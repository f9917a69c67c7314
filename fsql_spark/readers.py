"""Output representations: discovered partitions -> DataFrame / pandas / dict / listing.

Mirrors the reference's pluggable ``DataReader`` polymorphism
(``/root/reference/src/fsql/deser.py:98-162``) with a Spark-first default:

- :class:`SparkReader` — THE scale path. Its ``read`` is one distributed
  ``spark.read`` over all surviving files per input format; partition
  columns looked up by each row's ``_metadata.file_path`` in one map
  literal of file -> values. ``read_partitioned_table`` skips ``read`` for a
  Hive-layout read (no ``lazy_errors``, inference off): it loads the
  directories its walk kept under ``basePath`` instead
  (``api._load_prefixes``), so Spark lists directories, not one path per
  file. Both reads go through :meth:`SparkReader.scan`, the one ``load()``
  of a table read. This subsumes the reference's
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

import functools
import io
import json
import re
from abc import ABC, abstractmethod
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable, Collection, Optional
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .discovery import Partition
from .formats import InputFormat
from .fs import FileSystem

_POOL_SIZE = 32  # reference `deser.py:153`
# Hadoop globs every path handed to load(): a backslash makes each of its
# pattern characters stand for itself
_GLOB_ESCAPE = str.maketrans({c: "\\" + c for c in "*?[]{}\\"})


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


def unmatched(fs: FileSystem, file: str) -> RuntimeError:
    """The error for a file Spark scanned that no listed partition names."""
    return RuntimeError(
        f"scanned file {file!r} matches no discovered partition; "
        f"{type(fs).__name__}.spark_url must return the qualified URL Spark reports"
    )


def input_files(df: DataFrame) -> list[str]:
    """``df.inputFiles()`` in one py4j call: pyspark fetches the Java array
    one element per call, ~27 CPU-ms for 110 files. NUL is in no path."""
    jvm = df.sparkSession._jvm
    joined = jvm.scala.collection.mutable.ArraySeq.make(df._jdf.inputFiles()).mkString("\0")
    return joined.split("\0") if joined else []


def metadata_path(url: str) -> str:
    """An ``input_files`` URL as ``_metadata.file_path`` prints it: only an
    empty authority differs (``file:///x`` is ``file:/x``)."""
    return re.sub(r"^([A-Za-z][A-Za-z0-9+.-]*):///", r"\1:/", url, count=1)


def json_literal(value: Any, ddl: str) -> Column:
    """``value`` as one Spark constant of type ``ddl``, parsed from its JSON
    by ``from_json``, which Spark folds: any string and None survive, in one
    py4j call whatever the size (``F.lit``, ``Column.isin``: one per element)."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


# parquet/orc readers union every file's schema when this (or the mergeSchema
# option) is true; json/csv have no such switch
_MERGE_SCHEMA = {
    InputFormat.PARQUET: "spark.sql.parquet.mergeSchema",
    InputFormat.ORC: "spark.sql.orc.mergeSchema",
}


def merges_schema(spark: SparkSession, fmt: InputFormat, options: dict[str, Any]) -> bool:
    """Whether Spark merges the schemas of all loaded files for this read:
    the ``mergeSchema`` option (any case, like Spark) else the session
    default of the format."""
    if fmt not in _MERGE_SCHEMA:
        return False
    value = next((v for k, v in options.items() if k.lower() == "mergeschema"), None)
    if value is None:
        value = spark.conf.get(_MERGE_SCHEMA[fmt])
    return str(value).strip().lower() == "true"


# the footer key under which Spark stores a file's schema as StructType JSON
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_CASE_SENSITIVE = "spark.sql.caseSensitive"
# (physical type, logical type) -> the Spark type no session conf decides;
# INT annotations add (bit width, signed). Spark's ParquetToSparkSchemaConverter,
# cut down to the flat types pyarrow and pandas write
_PARQUET_TYPES = {
    ("BOOLEAN", "NONE"): BooleanType(),
    ("INT32", "NONE"): IntegerType(),
    ("INT32", "INT", 8, True): ByteType(),
    ("INT32", "INT", 16, True): ShortType(),
    ("INT32", "INT", 32, True): IntegerType(),
    ("INT32", "DATE"): DateType(),
    ("INT64", "NONE"): LongType(),
    ("INT64", "INT", 64, True): LongType(),
    ("FLOAT", "NONE"): FloatType(),
    ("DOUBLE", "NONE"): DoubleType(),
    ("BYTE_ARRAY", "STRING"): StringType(),
    ("BYTE_ARRAY", "ENUM"): StringType(),
    ("BYTE_ARRAY", "JSON"): StringType(),
}


def footer_schema(spark: SparkSession, fs: FileSystem, url: str, keys: Collection[str]) -> Optional[StructType]:
    """The data schema Spark infers from the parquet file at ``url``, read
    from its footer on the driver, without the Spark job of Spark's own
    inference; None where this map does not reach, so that Spark infers.

    A Spark-written file carries its schema as StructType JSON, which
    Spark prefers (``readSchemaFromFooter``). Any other file maps its
    Parquet schema (physical plus logical type, not the Arrow schema
    pyarrow restores) as Spark does, for flat columns of the types in
    ``_PARQUET_TYPES``, unannotated binary (``binaryAsString``) and
    millisecond or microsecond timestamps (``inferTimestampNTZ``); the
    confs are read only when a column needs them. Nested, repeated,
    unsigned, INT96, nanosecond, decimal and field-id columns give None.

    Fields named like one of the read's partition ``keys`` are left out
    (under ``spark.sql.caseSensitive``): a given schema types the
    partition column of the same name, and the key binds as a string."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        with fs.open(url, "rb") as fd:
            meta = pq.read_metadata(fd)
    except (OSError, pa.ArrowException):
        return None
    conf = functools.cache(lambda key: spark.conf.get(key).strip().lower() == "true")
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    fields = _stored_fields(stored) if stored is not None else _parquet_fields(meta.schema, conf)
    return None if fields is None else StructType(_without_keys(fields, keys, conf))


def _stored_fields(stored: bytes) -> Optional[list[StructField]]:
    """The fields of the StructType JSON a Spark-written file stores; None
    for JSON this cannot parse (Spark then tries its legacy format)."""
    try:
        schema = StructType.fromJson(json.loads(stored))
    except (ValueError, TypeError, KeyError, AttributeError):
        return None
    return [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in schema.fields]


def _parquet_fields(parquet, conf: Callable[[str], bool]) -> Optional[list[StructField]]:
    """The Spark fields of a flat Parquet schema without field ids; None
    when a column is nested, repeated or outside the map."""
    import pyarrow as pa

    try:  # pyarrow surfaces field ids only on the Arrow fields
        if any(f.metadata and b"PARQUET:field_id" in f.metadata for f in parquet.to_arrow_schema()):
            return None
    except pa.ArrowException:
        return None
    fields = []
    for column in (parquet.column(i) for i in range(len(parquet))):
        dtype = _spark_type(column, conf)
        if dtype is None or column.path != column.name or column.max_repetition_level:
            return None  # a leaf below a group has a longer path than its name
        fields.append(StructField(column.name, dtype, True))
    return fields


def _spark_type(column, conf: Callable[[str], bool]) -> Optional[DataType]:
    """The Spark type of one Parquet leaf column, or None outside the map."""
    logical = column.logical_type
    kind = logical.type
    if kind == "NONE" and column.converted_type != "NONE":
        return None  # a legacy annotation without a logical type (e.g. INTERVAL)
    if kind in ("INT", "TIMESTAMP"):
        detail = json.loads(logical.to_json())
        if kind == "INT":
            return _PARQUET_TYPES.get((column.physical_type, kind, detail["bitWidth"], detail["isSigned"]))
        if column.physical_type != "INT64" or detail["timeUnit"] not in ("milliseconds", "microseconds"):
            return None
        return TimestampNTZType() if not detail["isAdjustedToUTC"] and conf(_INFER_NTZ) else TimestampType()
    if (column.physical_type, kind) == ("BYTE_ARRAY", "NONE"):
        return StringType() if conf(_BINARY_AS_STRING) else BinaryType()
    return _PARQUET_TYPES.get((column.physical_type, kind))


def _nullable(dtype: DataType) -> DataType:
    """``dtype`` with every field, element and map value nullable, as
    Spark's ``asNullable`` makes a file source's data schema."""
    if isinstance(dtype, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dtype.fields])
    if isinstance(dtype, ArrayType):
        return ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(_nullable(dtype.keyType), _nullable(dtype.valueType), True)
    return dtype


def _without_keys(fields: list[StructField], keys: Collection[str], conf: Callable[[str], bool]) -> list[StructField]:
    """``fields`` less those a partition key names, case-insensitively
    unless the session is case-sensitive."""
    folded = {k.lower() for k in keys}
    if any(f.name not in keys and f.name.lower() in folded for f in fields) and not conf(_CASE_SENSITIVE):
        return [f for f in fields if f.name.lower() not in folded]
    return [f for f in fields if f.name not in keys]


class SparkReader(DataReader):
    """Distributed read: the engine's default output is a Spark DataFrame.

    Parameters
    ----------
    input_format: fixed format override (AUTO = detect per file suffix;
        all files must agree within one read).
    schema: explicit StructType. Without it a parquet read that does not
        merge schemas takes its data columns from one file's footer, read
        on the driver (:func:`footer_schema`), and starts no Spark job to
        plan; orc, json and csv reads infer with Spark.
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
        # mixed suffixes read with their own source each; files at different
        # tree depths (the bare-AutoParser quirk, reference
        # `column_parser.py:106-110`) share one scan and get NULL for the keys
        # their path lacks, like pandas concat
        by_format: dict[InputFormat, list[Partition]] = {}
        for p in parts:
            by_format.setdefault(_detect(p.url, fmt), []).append(p)
        frames = [self._load_format(spark, group, fs, f) for f, group in by_format.items()]
        df = frames[0] if frames else spark.createDataFrame([], self.schema or StructType([]))
        for frame in frames[1:]:
            df = df.unionByName(frame, allowMissingColumns=True)
        df = project_columns(df, self.columns, {k for p in parts for k in p.columns})
        return (df, failures) if self.lazy_errors else df

    def scan(
        self, spark: SparkSession, fs: FileSystem, fmt: InputFormat, paths: list[str], probe_file: str,
        keys: Collection[str], base: Optional[str] = None,
    ) -> DataFrame:
        """The one ``load()`` of a table read: ``paths`` in ``fmt``, with
        the format's options under ``options``, and ``base`` as
        ``basePath`` when given. The schema is ``schema`` when given, else
        for a parquet read that does not merge schemas ``probe_file``'s
        footer schema (:func:`footer_schema`); otherwise Spark infers.

        Every ``*?[]{}\\`` in a loaded path is backslash-escaped, so that
        Hadoop's glob reads each name as itself; ``basePath`` is not
        globbed and stays raw. For one escaped path Spark's
        ``FileStreamSink.hasMetadata`` probe logs a WARN and the read goes
        on."""
        reader = spark.read.format(fmt.spark_format()).options(**{**fmt.spark_options(), **self.options})
        schema = self.schema
        if schema is None and fmt is InputFormat.PARQUET and not merges_schema(spark, fmt, self.options):
            schema = footer_schema(spark, fs, probe_file, keys)
        if schema is not None:
            reader = reader.schema(schema)
        if base is not None:
            reader = reader.option("basePath", fs.spark_url(base))
        return reader.load([fs.spark_url(p).translate(_GLOB_ESCAPE) for p in paths])

    # -- internals ---------------------------------------------------------

    def _load_format(
        self, spark: SparkSession, group: list[Partition], fs: FileSystem, fmt: InputFormat
    ) -> DataFrame:
        """ONE scan over the group's files (a parquet read takes its data
        columns from the first, :meth:`scan`); each partition column, last
        in path order, is the row's ``_metadata.file_path`` looked up in one
        map literal (:func:`json_literal`) of file -> values, None where the
        path lacks the key. Its keys are Spark's own path strings
        (:func:`input_files` in :func:`metadata_path`'s form), unquoted only
        to find each file's bindings; a row whose file has none fails the
        query. A same-named data column is dropped. Catalyst prunes files on
        a key filter and pushes data filters to the scan, but every task
        carries the literal and scans it per row: a used key costs about
        rows x files (PERF.md, Round 19)."""
        by_url = {fs.spark_url(p.url): p.columns for p in group}
        keys = list(dict.fromkeys(k for p in group for k in p.columns))
        df = self.scan(spark, fs, fmt, [p.url for p in group], group[0].url, keys)
        if not keys:
            return df

        try:
            bindings = {metadata_path(f): [by_url[unquote(f)].get(k) for k in keys] for f in input_files(df)}
        except KeyError as exc:
            raise unmatched(fs, exc.args[0]) from exc
        path = df.metadataColumn("_metadata").getField("file_path")
        miss = F.raise_error(F.concat(F.lit("no partition binding for scanned file "), path))
        values = F.coalesce(F.element_at(json_literal(bindings, "map<string,array<string>>"), path), miss)
        return df.drop(*keys).select("*", *[values[i].alias(k) for i, k in enumerate(keys)])

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
    """Spark-native fancy-ls: a small DataFrame of (path, partition cols),
    all strings. The ``path`` values are raw ``FileSystem.spark_url``
    strings, and ``spark.read`` globs every path it loads: to feed selected
    paths back into it, backslash-escape ``*?[]{}\\`` first, as
    :meth:`SparkReader.scan` does, or a name such as ``k=[x]`` loads
    ``k=x``."""

    def read(self, spark, partitions: list[Partition], fs: FileSystem, fmt: InputFormat):
        parts = list(partitions)
        keys = sorted({k for p in parts for k in p.columns})
        rows = [(fs.spark_url(p.url), *[p.columns.get(k) for k in keys]) for p in parts]
        schema = StructType([StructField(c, StringType()) for c in ["path", *keys]]) if rows else StructType()
        return spark.createDataFrame(rows, schema)


SPARK_READER = SparkReader()
PANDAS_READER = PandasReader()
ENUMERATED_DICT_READER = EnumeratedDictReader()
IDENTITY_READER = IdentityReader()
