"""Output representations: discovered partitions -> DataFrame / pandas / dict / listing.

Mirrors the reference's pluggable ``DataReader`` polymorphism
(``/root/reference/src/fsql/deser.py:98-162``) with a Spark-first default:

- :class:`SparkReader` — THE scale path. Its ``read`` is one distributed
  ``spark.read`` over all surviving files per input format; partition
  columns bound by one broadcast left join on ``input_file_name()`` against
  a file -> binding map. ``read_partitioned_table`` skips ``read`` for a
  Hive-shaped survivor set (no ``lazy_errors``, inference off) and loads
  its directories under ``basePath`` with the reader's format, schema,
  options and ``columns`` instead (``api._load_prefixes``), so Spark lists
  directories, not one path per file. This subsumes the reference's
  DaskReader (`deser_dask.py:18-56`): Spark is already lazy, one task per
  file split.
- :class:`PandasReader` — fsql-parity driver-side reader (32-thread pool,
  pandas per file, partition cols appended as str, ``lazy_errors`` partial
  results, kwargs passthrough incl. ``columns=`` projection) — reference
  `deser.py:165-237`. Small-data compatibility mode; also the xlsx path.
- :class:`EnumeratedDictReader` — whole-file JSON -> dict keyed by file order
  (reference `deser.py:240-270`).
- :class:`IdentityReader` — "fancy ls": FileInPartition records with a
  ``consume`` callback (reference `deser.py:273-303`).

``lazy_errors`` (reference `deser.py:101-110`): eager mode raises on the first
per-file failure; lazy mode returns ``(data, failures)`` with the readable
subset loaded.

DEVIATION (documented): an empty partition set returns an EMPTY result (empty
DataFrame / dict) instead of the reference's pandas concat crash
(`tests/test_lex_range_query.py:113-114`). ``read_partitioned_table`` with a
``SparkReader`` on a Hive tree returns the typed empty result of the fast
path instead (the table's partition columns and the probe leaf's data
columns); ``SparkReader.read`` itself cannot know a schema.
"""

from __future__ import annotations

import io
import json
from abc import ABC, abstractmethod
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Collection, Optional
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .discovery import Partition
from .formats import InputFormat
from .fs import FileSystem

_POOL_SIZE = 32  # reference `deser.py:153`


@dataclass
class ReadFailure:
    """One unreadable file: (partition, error) — reference `deser.py:101-110`."""

    partition: Partition
    error: Exception


class DataReader(ABC):
    """Turn discovered terminal partitions into an output object."""

    lazy_errors: bool = False

    @abstractmethod
    def read(
        self, spark: SparkSession, partitions: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> Any: ...


def _detect(url: str, fmt: InputFormat) -> InputFormat:
    return InputFormat.from_url(url) if fmt is InputFormat.AUTO else fmt


def project_columns(df: DataFrame, columns: Optional[list[str]], keys: Collection[str]) -> DataFrame:
    """``columns=`` projection (reference `deser.py:170-176`) for both read paths:
    the requested columns ``df`` has, then the always-kept partition ``keys``."""
    if not columns:
        return df
    have = df.columns
    keep = [c for c in columns if c in have]
    return df.select(*keep, *[c for c in have if c in keys and c not in keep])


class SparkReader(DataReader):
    """Distributed read: the engine's default output is a Spark DataFrame.

    Parameters
    ----------
    input_format: fixed format override (AUTO = detect per file suffix;
        all files must agree within one read).
    schema: explicit StructType (skips inference — recommended at scale).
    options: Spark reader options merged over the format defaults.
    columns: projection pushed into the scan (reference's ``columns=`` kwarg,
        `deser.py:170-176`; Catalyst prunes parquet columns natively).
    """

    def __init__(
        self,
        input_format: InputFormat = InputFormat.AUTO,
        schema: Optional[StructType] = None,
        options: Optional[dict[str, str]] = None,
        columns: Optional[list[str]] = None,
        lazy_errors: bool = False,
    ):
        self.input_format = input_format
        self.schema = schema
        self.options = options or {}
        self.columns = columns
        self.lazy_errors = lazy_errors

    def read(
        self, spark: SparkSession, partitions: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> Any:
        fmt = self.input_format if self.input_format is not InputFormat.AUTO else fmt
        parts = list(partitions)
        failures: list[ReadFailure] = []
        if self.lazy_errors:
            parts, failures = self._validate(parts, fs, fmt)
        df = self._load(spark, parts, fs, fmt)
        df = project_columns(df, self.columns, {k for p in parts for k in p.columns})
        return (df, failures) if self.lazy_errors else df

    # -- internals ---------------------------------------------------------

    def _load(
        self, spark: SparkSession, parts: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> DataFrame:
        if not parts:
            return spark.createDataFrame([], self.schema or StructType([]))
        fmt = self.input_format if self.input_format is not InputFormat.AUTO else fmt
        # mixed suffixes read with their own source each; files at different
        # tree depths (the bare-AutoParser quirk, reference
        # `column_parser.py:106-110`) share one scan and get NULL for the keys
        # their path lacks, like pandas concat
        by_format: dict[InputFormat, list[Partition]] = {}
        for p in parts:
            by_format.setdefault(_detect(p.url, fmt), []).append(p)

        frames = [self._load_format(spark, group, fs, f) for f, group in by_format.items()]
        out = frames[0]
        for frame in frames[1:]:
            out = out.unionByName(frame, allowMissingColumns=True)
        return out

    def _load_format(
        self, spark: SparkSession, group: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> DataFrame:
        """ONE scan over the group's files, then partition columns bound by a
        broadcast left join on ``input_file_name()``.

        The map is keyed by Spark's own path strings (``df.inputFiles()``,
        the same form ``input_file_name()`` returns); each is unquoted only
        to look up the file's bindings, so no encoding is re-implemented
        here. Keys follow path order, the insertion order of
        ``Partition.columns``, as on the fast path. A same-named data column
        is dropped: the path binding wins.
        """
        import pyarrow as pa

        by_url = {fs.spark_url(p.url): p.columns for p in group}
        reader = spark.read.format(fmt.spark_format()).options(**{**fmt.spark_options(), **self.options})
        if self.schema is not None:
            reader = reader.schema(self.schema)
        keys = list(dict.fromkeys(k for p in group for k in p.columns))
        df = reader.load(list(by_url))
        if not keys:
            return df

        files = df.inputFiles()
        try:
            bindings = [by_url[unquote(f)] for f in files]
        except KeyError as exc:
            raise RuntimeError(
                f"scanned file {exc.args[0]!r} matches no discovered partition; "
                f"{type(fs).__name__}.spark_url must return the qualified URL Spark reports"
            ) from exc
        mapping = spark.createDataFrame(
            pa.table(
                {
                    "__fsql_path": pa.array(files, pa.string()),
                    **{k: pa.array([b.get(k) for b in bindings], pa.string()) for k in keys},
                }
            )
        )
        return (
            df.drop(*keys)
            .withColumn("__fsql_path", F.input_file_name())
            .join(F.broadcast(mapping), "__fsql_path", "left")
            .drop("__fsql_path")
        )

    def _validate(
        self, parts: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> tuple[list[Partition], list[ReadFailure]]:
        """Metadata-level per-file validation for lazy_errors mode.

        Parquet: footer readable + projected columns present (mirrors the
        reference's per-file schema-mismatch collection,
        `tests/test_pandasreader.py:41-56`). CSV/JSON: file openable; row-level
        corruption is handled by Spark's PERMISSIVE mode downstream.
        """
        ok: list[Partition] = []
        failures: list[ReadFailure] = []
        for p in parts:
            try:
                resolved = _detect(p.url, fmt)
                if resolved is InputFormat.PARQUET:
                    import pyarrow.parquet as pq

                    with fs.open(p.url, "rb") as fd:
                        names = set(pq.read_schema(fd).names)
                    missing = set(self.columns or []) - names
                    if missing:
                        raise KeyError(f"columns not found in {p.url}: {sorted(missing)}")
                else:
                    with fs.open(p.url, "rb") as fd:
                        fd.read(1)
                ok.append(p)
            except Exception as exc:  # noqa: BLE001 - collected, not swallowed
                failures.append(ReadFailure(p, exc))
        return ok, failures


class PandasReader(DataReader):
    """fsql-parity reader: pandas per file on the driver, 32-thread pool.

    Returns a pandas DataFrame (partition columns appended as strings —
    reference `deser.py:215-217`). Extra kwargs go verbatim to the pandas
    read function (`deser.py:208`), e.g. ``columns=[...]`` for parquet
    projection. xlsx is supported when openpyxl is importable;
    feather/arrow (Arrow IPC) reads via pyarrow.
    """

    def __init__(self, input_format: InputFormat = InputFormat.AUTO, lazy_errors: bool = False, **pdread_kwargs):
        self.input_format = input_format
        self.lazy_errors = lazy_errors
        self.kwargs = pdread_kwargs

    def _read_single(self, partition: Partition, fs: FileSystem, fallback: InputFormat = InputFormat.AUTO):
        # FileNotFound retry once: listing-cache staleness workaround
        # (reference `deser.py:224-230`)
        try:
            return self._read_single_once(partition, fs, fallback)
        except FileNotFoundError:
            return self._read_single_once(partition, fs, fallback)

    def _read_single_once(self, partition: Partition, fs: FileSystem, fallback: InputFormat):
        import pandas as pd

        fmt = self.input_format if self.input_format is not InputFormat.AUTO else fallback
        fmt = _detect(partition.url, fmt)
        with fs.open(partition.url, "rb") as fd:
            if fmt is InputFormat.PARQUET:
                frame = pd.read_parquet(fd, **self.kwargs)
            elif fmt is InputFormat.CSV:
                frame = pd.read_csv(fd, **self.kwargs)
            elif fmt is InputFormat.JSON:
                frame = pd.read_json(fd, lines=True, **self.kwargs)
            elif fmt is InputFormat.XLSX:
                frame = pd.read_excel(fd, engine="openpyxl", **self.kwargs)
            elif fmt is InputFormat.ORC:
                frame = pd.read_orc(fd, **self.kwargs)
            elif fmt is InputFormat.FEATHER:
                frame = pd.read_feather(fd, **self.kwargs)
            else:  # pragma: no cover
                raise ValueError(f"unreadable format: {fmt}")
        for key, value in partition.columns.items():
            frame[key] = value
        return frame

    def read(self, spark, partitions: list[Partition], fs: FileSystem, fmt: InputFormat):
        import pandas as pd

        parts = list(partitions)
        frames: list = []
        failures: list[ReadFailure] = []

        def safe(p: Partition):
            try:
                return self._read_single(p, fs, fallback=fmt), None
            except Exception as exc:  # noqa: BLE001
                return None, ReadFailure(p, exc)

        if parts:
            with ThreadPoolExecutor(min(_POOL_SIZE, len(parts))) as pool:
                outcomes = list(pool.map(safe, parts))
            for frame, failure in outcomes:
                if failure is not None:
                    if not self.lazy_errors:
                        raise failure.error
                    failures.append(failure)
                else:
                    frames.append(frame)
        data = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        return (data, failures) if self.lazy_errors else data


class EnumeratedDictReader(DataReader):
    """Whole-file JSON -> dict merged with partition cols; result keyed by the
    deterministic (sorted-listing) file order — reference `deser.py:240-270`."""

    def __init__(self, lazy_errors: bool = False):
        self.lazy_errors = lazy_errors

    def read(self, spark, partitions: list[Partition], fs: FileSystem, fmt: InputFormat):
        datas: list[dict] = []
        failures: list[ReadFailure] = []
        for p in partitions:
            try:
                with fs.open(p.url, "rb") as fd:
                    payload = json.load(fd)
                datas.append({**payload, **p.columns})
            except Exception as exc:  # noqa: BLE001
                if not self.lazy_errors:
                    raise
                failures.append(ReadFailure(p, exc))
        result = dict(enumerate(datas))
        return (result, failures) if self.lazy_errors else result


@dataclass
class FileInPartition:
    """One discovered file + its partition bindings — the "fancy ls" record
    (reference `deser.py:273-303`)."""

    file_url: str
    partition_values: dict[str, str]
    fs: FileSystem

    def consume(self, fd_consumer: Callable[[io.IOBase], Any]) -> Any:
        """Open the file and apply ``fd_consumer``; one retry on
        FileNotFoundError (listing-cache staleness, reference
        `deser.py:224-230`)."""
        try:
            with self.fs.open(self.file_url, "rb") as fd:
                return fd_consumer(fd)
        except FileNotFoundError:
            with self.fs.open(self.file_url, "rb") as fd:
                return fd_consumer(fd)


class IdentityReader(DataReader):
    """No data I/O: return FileInPartition records (reference `deser.py:273-303`)."""

    def read(self, spark, partitions: list[Partition], fs: FileSystem, fmt: InputFormat):
        return [FileInPartition(p.url, dict(p.columns), fs) for p in partitions]


class ListingReader(DataReader):
    """Spark-native fancy-ls: a small DataFrame of (path, partition cols) —
    feed selected paths back into ``spark.read`` to consume."""

    def read(self, spark, partitions: list[Partition], fs: FileSystem, fmt: InputFormat):
        parts = list(partitions)
        keys = sorted({k for p in parts for k in p.columns})
        rows = [(fs.spark_url(p.url), *[p.columns.get(k) for k in keys]) for p in parts]
        return spark.createDataFrame(rows, ["path", *keys]) if rows else spark.createDataFrame(
            [], StructType()
        )


SPARK_READER = SparkReader()
PANDAS_READER = PandasReader()
ENUMERATED_DICT_READER = EnumeratedDictReader()
IDENTITY_READER = IdentityReader()
