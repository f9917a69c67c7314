"""Primary API: ``read_partitioned_table`` + ``write_object``.

Spark-native reimplementation of the reference's API surface
(``/root/reference/src/fsql/api.py:70-163``). The metastore-less model is kept:
a "table" is just a URL prefix; partition columns come from the path; queries
filter on partition columns only; output defaults to a (distributed) DataFrame.

Execution strategy — two paths, picked automatically:

FAST PATH (the idiomatic-Spark one; Hive layouts + Catalyst-expressible query):
    ``spark.read.format(f).load(root).where(query.to_column())``
    Partition discovery, pruning, predicate/projection pushdown, parallel
    listing, vectorized scans: all Catalyst/Tungsten built-ins. Zero driver
    crawling. This is what runs against 100 TB.

DRIVER-DISCOVERY PATH (everything Catalyst can't express — SURVEY §4.3):
    black-box :class:`AtomicQuery` predicates, value-only ``FixedColumnsParser``
    layouts with filename columns, parser ``generate()`` grammars, non-DataFrame
    outputs (dict / fancy-ls), ``lazy_errors``. The driver enumerates and prunes
    partition *metadata* exactly like the reference (O(#partitions), with
    threaded listing), then hands the surviving file list to ONE distributed
    ``spark.read`` per input format — the data plane stays on executors.
    Partition columns are bound, in path order, by one broadcast left join
    on ``input_file_name()`` against a small file -> binding map keyed by
    Spark's own path strings; a binding replaces a same-named data column.

No transactional guarantees, like the reference (`api.py:33-36`): files deleted
between discovery and read raise (soften with
``spark.sql.files.ignoreMissingFiles``); files added are not seen.
"""

from __future__ import annotations

import io
import warnings
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .column_parser import AUTO_PARSER, AutoParser, ColumnParser
from .discovery import Partition, discover_partitions
from .formats import InputFormat
from .fs import FileSystem, get_url_and_fs
from .queries import Query
from .readers import DataReader, SparkReader, SPARK_READER
from .session import get_spark, temp_conf


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
        files = [f for f in files if not f.startswith(("_", "."))]
        dirs = [d for d in dirs if not d.startswith(("_", "."))]  # _spark_metadata etc.
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

    if _fast_path_eligible(query, column_parser, reader):
        result = _read_fast_path(spark, path, fs, query, reader)
        if result is not None:
            return result

    root = Partition(path, {})
    partitions = list(discover_partitions(query, column_parser, root, fs))
    return reader.read(spark, partitions, fs, InputFormat.AUTO)


def _fast_path_eligible(query: Query, parser: ColumnParser, reader: DataReader) -> bool:
    return (
        isinstance(parser, AutoParser)
        and parser.grammars is None  # bare AutoParser: Spark-native discovery
        and isinstance(reader, SparkReader)
        and not reader.lazy_errors
        and query.expressible
    )


def _read_fast_path(
    spark: SparkSession, path: str, fs: FileSystem, query: Query, reader: SparkReader
) -> Optional[DataFrame]:
    """Catalyst-native scan; returns None to signal slow-path fallback."""
    try:
        probe_file, part_keys = _probe_first_leaf(fs, path)
    except ValueError:
        return None  # non key=value segment: not a Hive layout
    if probe_file is None:
        return None  # empty tree: slow path returns the canonical empty result
    fmt = reader.input_format
    if fmt is InputFormat.AUTO:
        try:
            fmt = InputFormat.from_url(probe_file)
        except KeyError:
            return None
    if fmt is InputFormat.XLSX:
        return None  # no distributed xlsx source: pandas bridge on slow path

    load = spark.read.format(fmt.spark_format()).options(
        **{**fmt.spark_options(), **reader.options}
    )
    if reader.schema is not None:
        load = load.schema(reader.schema)
    try:
        # strings-only partition columns — the reference's contract. The conf
        # is consumed eagerly (partition schema inference runs inside load()),
        # so it can be restored immediately without touching the caller's
        # unrelated spark.read behavior.
        with temp_conf(
            spark, **{"spark.sql.sources.partitionColumnTypeInference.enabled": "false"}
        ):
            df = load.load(fs.spark_url(path))
    except Exception:
        # e.g. conflicting directory depths (the bare-AutoParser mixed-depth
        # quirk, reference `column_parser.py:106-110`) — driver discovery
        # reproduces the reference's union-of-mixed-schemas behavior
        return None

    if reader.input_format is InputFormat.AUTO:
        # format was detected from ONE probe file; a tree mixing data formats
        # (csv+json, which the driver-discovery path reads per-file like the
        # reference) would be silently parsed entirely as the probe's format.
        # inputFiles() is metadata-only (the file index is needed by the scan
        # anyway); any file whose detected format differs — or is unknown —
        # falls back to per-file driver discovery. Detection goes through
        # InputFormat.from_url so compression suffixes (.json.gz) resolve to
        # their inner format exactly like the probe did (a bare
        # last-suffix check here silently sent every compressed tree down
        # the slow path — caught by review; regression-tested in
        # test_jsongz_scan_prunes_partitions).
        def _fmt_of(f: str):
            try:
                return InputFormat.from_url(f)
            except KeyError:
                return None

        if any(_fmt_of(f) is not fmt for f in df.inputFiles()):
            return None

    available = frozenset(part_keys)
    df = df.where(query.to_column(available))
    if reader.columns:
        keep = [c for c in reader.columns if c in df.columns]
        keep += [c for c in df.columns if c in available and c not in keep]
        df = df.select(*keep)
    return df


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
