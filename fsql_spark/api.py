"""Primary API: ``read_partitioned_table`` + ``write_object``.

Spark-native reimplementation of the reference's API surface
(``/root/reference/src/fsql/api.py:70-163``). The metastore-less model is kept:
a "table" is just a URL prefix; partition columns come from the path; queries
filter on partition columns only; output defaults to a (distributed) DataFrame.

Execution strategy — two paths, picked from the call and the session:

FAST PATH (Hive layouts + Catalyst-expressible query + engine session defaults):
    ``spark.read.format(f).option("basePath", root).load(prefixes)``
    ``.where(query.to_column())``. A short driver walk
    (:func:`~fsql_spark.discovery.query_prefixes`) lists the tree one level
    at a time and keeps the ``key=value`` prefixes the query cannot rule
    out, so Spark lists only those; the ``where`` keeps the answer exact. A
    query on no partition key, or a read that merges schemas, loads
    ``root`` with no walk. Partition discovery, pruning,
    predicate/projection pushdown and vectorized scans stay
    Catalyst/Tungsten built-ins. Partition columns bind as strings
    because ``get_spark``/``configure`` turn type inference off.

DRIVER-DISCOVERY PATH (everything else — SURVEY §4.3): black-box
    :class:`AtomicQuery` predicates, value-only ``FixedColumnsParser`` layouts
    with filename columns, parser ``generate()`` grammars, non-DataFrame
    outputs (dict / fancy-ls), ``lazy_errors``, partition type inference on
    in the session, trees that are not one Hive layout. The driver enumerates
    and prunes partition *metadata* exactly like the reference (O(#partitions),
    threaded listing); the data plane stays on executors. A Hive-shaped
    survivor set read by a plain ``SparkReader`` with inference off is loaded
    the fast path's way: the survivors' leaf directories (or their ancestors,
    above Spark's serial-listing threshold) under ``basePath``, plus an exact
    filter on the partition columns, so planning lists directories instead
    of starting a per-file listing job; every discovered file must be among
    the files Spark lists. Any other survivor set goes to ONE distributed
    ``spark.read`` of the file list per input format, its partition columns
    bound, in path order, by one broadcast left join on
    ``input_file_name()`` against a small file -> binding map keyed by
    Spark's own path strings. Either way a binding replaces a same-named
    data column.

No transactional guarantees, like the reference (`api.py:33-36`): files deleted
between discovery and read raise (soften with
``spark.sql.files.ignoreMissingFiles`` on the file-list read). A read that
loads directories (the fast path, and driver discovery's Hive prefix load)
sees files added to a kept directory before the scan, and infers the data
columns from the loaded prefixes; the file-list read sees only the files
discovered.
"""

from __future__ import annotations

import io
import warnings
from typing import Any, Optional
from urllib.parse import unquote

from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .column_parser import AUTO_PARSER, AutoParser, ColumnParser
from .discovery import (
    GLOB_CHARS,
    Partition,
    covering_prefixes,
    discover_partitions,
    hive_layout,
    query_prefixes,
)
from .formats import InputFormat
from .fs import FileSystem, get_url_and_fs, is_hidden
from .queries import Query
from .readers import DataReader, SparkReader, SPARK_READER, project_columns
from .session import get_spark

_TYPE_INFERENCE = "spark.sql.sources.partitionColumnTypeInference.enabled"
# above this many paths Spark lists with a distributed job, not on the driver
_SERIAL_LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# load() conditions meaning "not one Hive layout" (e.g. the mixed-depth quirk,
# reference `column_parser.py:106-110`): driver discovery reads such trees
_NOT_ONE_LAYOUT = {"CONFLICTING_PARTITION_COLUMN_NAMES", "CONFLICTING_DIRECTORY_STRUCTURES"}


def _active_spark(spark: Optional[SparkSession]) -> SparkSession:
    return spark or SparkSession.getActiveSession() or get_spark()


def _probe_first_leaf(fs: FileSystem, root: str, max_depth: int = 64) -> tuple[Optional[str], list[str]]:
    """Descend the first directory chain to find one data file.

    Returns (file_url, hive_keys_along_the_path). Used only to (a) autodetect
    the input format and (b) learn the table's partition-column names for the
    fast path. Cost: one ``ls`` per tree level — negligible vs. the scan.
    Raises ValueError via AutoParser.parse when a segment is not ``key=value``
    (callers fall back to driver discovery).
    """
    url = root
    keys: list[str] = []
    for _ in range(max_depth):
        files, dirs = fs.ls(url)
        files = [f for f in files if not is_hidden(f)]
        dirs = [d for d in dirs if not is_hidden(d)]  # _spark_metadata etc.
        if files and dirs:
            # mixed files+dirs at one level: the bare-AutoParser mixed-depth
            # quirk (reference `column_parser.py:106-110`) — Spark's native
            # discovery silently drops the shallow files, so force the
            # driver-discovery path which reproduces the reference's union
            raise ValueError(f"mixed files and directories under {url}")
        if files:
            return url + files[0], keys
        if not dirs:
            return None, keys
        key, _value = AutoParser().parse(dirs[0])
        keys.append(key)
        url += dirs[0] + "/"
    return None, keys


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

    if _fast_path_eligible(spark, query, column_parser, reader):
        result = _read_fast_path(spark, path, fs, query, reader)
        if result is not None:
            return result

    root = Partition(path, {})
    partitions = list(discover_partitions(query, column_parser, root, fs))
    if _loads_prefixes(spark, reader):
        result = _read_discovered(spark, path, fs, partitions, reader)
        if result is not None:
            return result
    return reader.read(spark, partitions, fs, InputFormat.AUTO)


def _loads_prefixes(spark: SparkSession, reader: DataReader) -> bool:
    """Whether a read may load Hive prefixes under ``basePath``: a plain
    ``SparkReader`` and partition type inference off in the session (else
    Spark would bind types)."""
    return (
        isinstance(reader, SparkReader)
        and not reader.lazy_errors
        and spark.conf.get(_TYPE_INFERENCE).strip().lower() == "false"
    )


def _fast_path_eligible(
    spark: SparkSession, query: Query, parser: ColumnParser, reader: DataReader
) -> bool:
    """Each false clause names a reason for driver discovery."""
    return (
        isinstance(parser, AutoParser)
        and parser.grammars is None  # bare AutoParser: Spark-native discovery
        and query.expressible
        and _loads_prefixes(spark, reader)
    )


# parquet/orc readers union every file's schema when this (or the mergeSchema
# option) is true; json/csv have no such switch
_MERGE_SCHEMA = {
    InputFormat.PARQUET: "spark.sql.parquet.mergeSchema",
    InputFormat.ORC: "spark.sql.orc.mergeSchema",
}


def _merges_schema(spark: SparkSession, fmt: InputFormat, options: dict[str, Any]) -> bool:
    """Whether Spark merges the schemas of all loaded files for this read:
    the ``mergeSchema`` option (any case, like Spark) else the session
    default of the format."""
    if fmt not in _MERGE_SCHEMA:
        return False
    value = next((v for k, v in options.items() if k.lower() == "mergeschema"), None)
    if value is None:
        value = spark.conf.get(_MERGE_SCHEMA[fmt])
    return str(value).strip().lower() == "true"


def _read_fast_path(
    spark: SparkSession, path: str, fs: FileSystem, query: Query, reader: SparkReader
) -> Optional[DataFrame]:
    """Catalyst-native scan of the prefixes the query can keep; returns None
    to signal slow-path fallback.

    The first-leaf probe gives the format and the partition keys; the walk
    gives the prefixes, loaded under ``basePath=path`` (``path`` itself
    when nothing was pruned) by :func:`_load_prefixes`, which the
    driver-discovery path shares. When the query rules out every
    partition, the probe's leaf directory is loaded under a false filter,
    so the empty result keeps the partition columns.

    Without ``reader.schema``, Spark infers the data columns from the
    loaded prefixes only: parquet and orc read one footer of a kept file,
    json and csv sample the kept files. On a table whose schema drifts, the
    result's data columns can thus depend on the query; callers that need
    the table-wide schema pass ``reader.schema``. A read that merges
    schemas (``mergeSchema``, as option or session default) skips the walk
    and loads ``path``, so the merged schema spans every file."""
    probed = _probe(fs, path, reader)
    if probed is None:
        return None
    probe_file, part_keys, fmt = probed
    if _merges_schema(spark, fmt, reader.options):
        prefixes: Optional[list[str]] = [path]  # the merged schema spans every file
    else:
        prefixes = query_prefixes(query, path, part_keys, fs, int(spark.conf.get(_SERIAL_LISTING)))
    if prefixes is None:
        return None  # a directory the walk listed holds data files
    where = query.to_column(frozenset(part_keys))
    if not prefixes:
        prefixes, where = _probe_leaf(path, probe_file), F.lit(False)
    return _load_prefixes(spark, path, fs, reader, fmt, part_keys, prefixes, where)


def _read_discovered(
    spark: SparkSession, path: str, fs: FileSystem, partitions: list[Partition], reader: SparkReader
) -> Optional[DataFrame]:
    """Driver discovery's load of a Hive-shaped survivor set, the fast
    path's way: prefixes under ``basePath=path`` and an exact filter on the
    partition columns, so planning lists directories, not one path per
    file. Returns None, for the broadcast path join of
    :meth:`SparkReader.read`, when the survivors are not one Hive layout
    (:func:`~fsql_spark.discovery.hive_layout`) or need more than one
    input format.

    Spark gets the survivors' leaf directories, or their ancestors at the
    deepest level that fits its serial-listing threshold; ``path`` for a
    read that merges schemas. The filter keeps exactly the discovered
    leaves, and every discovered file must be among the files Spark lists.
    When nothing survives on a Hive tree, the result is the fast path's
    typed empty one. As on the fast path, files added to a kept directory
    after discovery are read, and the data columns are inferred from the
    loaded prefixes."""
    if not partitions:
        probed = _probe(fs, path, reader)
        if probed is None:
            return None  # value-only or empty tree: the schema-less empty result
        probe_file, keys, fmt = probed
        prefixes = [path] if _merges_schema(spark, fmt, reader.options) else _probe_leaf(path, probe_file)
        return _load_prefixes(spark, path, fs, reader, fmt, keys, prefixes, F.lit(False))
    layout = hive_layout(path, partitions)
    if layout is None:
        return None
    keys, leaves = layout
    fmt = _spark_format(reader, [p.url for p in partitions])
    if fmt is None:
        return None
    if _merges_schema(spark, fmt, reader.options):
        prefixes = [path]
    else:
        prefixes = covering_prefixes(path, keys, leaves, int(spark.conf.get(_SERIAL_LISTING)))
    where = F.lit(True)
    if keys:
        # one literal split on the JVM: Column.isin makes a py4j call per
        # value (~0.2 s for 90); "/" and NUL occur in no directory name
        kept = F.split(F.lit("\0".join("/".join(values) for values in leaves)), "\0")
        where = F.array_contains(kept, F.concat_ws("/", *keys))
    discovered = {fs.spark_url(p.url) for p in partitions}
    return _load_prefixes(spark, path, fs, reader, fmt, keys, prefixes, where, discovered)


def _format_of(url: str) -> Optional[InputFormat]:
    try:
        return InputFormat.from_url(url)
    except KeyError:
        return None


def _spark_format(reader: SparkReader, urls: list[str]) -> Optional[InputFormat]:
    """The one Spark source ``reader`` reads ``urls`` with; None when they
    need several, or one Spark has no source for (unknown suffix, xlsx,
    feather), which the per-file driver-discovery readers handle."""
    if reader.input_format is not InputFormat.AUTO:
        formats = {reader.input_format}
    else:
        formats = {_format_of(url) for url in urls}
    fmt = formats.pop() if len(formats) == 1 else None
    return None if fmt in (None, InputFormat.XLSX, InputFormat.FEATHER) else fmt


def _probe(fs: FileSystem, path: str, reader: SparkReader) -> Optional[tuple[str, list[str], InputFormat]]:
    """The first-leaf probe's file, its Hive keys and the Spark source to
    read the tree with; None when the tree is empty or not a Hive layout,
    or the probe file has no Spark source."""
    try:
        probe_file, keys = _probe_first_leaf(fs, path)
    except ValueError:
        return None  # non key=value segment: not a Hive layout
    if probe_file is None:
        return None  # empty tree: slow path returns the canonical empty result
    fmt = _spark_format(reader, [probe_file])
    return None if fmt is None else (probe_file, keys, fmt)


def _probe_leaf(path: str, probe_file: str) -> list[str]:
    """The prefix of an all-pruned read: the probe's leaf directory keeps
    the partition columns."""
    leaf = probe_file.rsplit("/", 1)[0] + "/"
    return [leaf if GLOB_CHARS.isdisjoint(leaf) else path]


def _load_prefixes(
    spark: SparkSession,
    path: str,
    fs: FileSystem,
    reader: SparkReader,
    fmt: InputFormat,
    keys: list[str],
    prefixes: list[str],
    where: Column,
    discovered: Optional[set[str]] = None,
) -> Optional[DataFrame]:
    """The one Spark load of both paths: ``prefixes`` under
    ``basePath=path``, filtered by ``where``, partition columns last in
    path order (a same-named data column gives way, as in the path join),
    then the ``columns=`` projection. Returns None when Spark finds more
    than one layout, or when a loaded file of an AUTO-format read has
    another suffix. ``discovered`` holds the Spark URLs of the
    discovered files: each must be among the files Spark lists."""
    load = spark.read.format(fmt.spark_format()).options(**{**fmt.spark_options(), **reader.options})
    if reader.schema is not None:
        load = load.schema(reader.schema)
    load = load.option("basePath", fs.spark_url(path))
    try:
        df = load.load([fs.spark_url(p) for p in prefixes])
    except PySparkException as exc:
        if exc.getCondition() in _NOT_ONE_LAYOUT:
            return None
        raise

    # the format came from the probe file or the discovered files' suffixes;
    # a tree mixing data formats (csv+json, which the path join reads per
    # format like the reference) would be parsed entirely as ``fmt``.
    # inputFiles() is metadata-only, and from_url resolves compression
    # suffixes (.json.gz) as the probe did (regression-tested in
    # test_jsongz_scan_prunes_partitions)
    auto = reader.input_format is InputFormat.AUTO
    files = df.inputFiles() if auto or discovered is not None else []
    if auto and any(_format_of(f) is not fmt for f in files):
        return None
    # every file under the loaded prefixes: Spark applies the filter only
    # when it plans the scan
    missing = discovered.difference(map(unquote, files)) if discovered is not None else ()
    if missing:
        raise RuntimeError(
            f"discovered file {min(missing)!r} is not among the files Spark scans: a scanned file "
            f"matches no discovered partition when {type(fs).__name__}.spark_url does not return "
            "the qualified URL Spark reports, or the file was deleted after discovery"
        )

    columns = df.columns
    if columns[len(columns) - len(keys):] != keys:
        df = df.select(*[c for c in columns if c not in keys], *keys)
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
