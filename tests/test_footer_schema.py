"""``readers.footer_schema`` reads a parquet file's data schema on the
driver instead of Spark's one-task inference job. Over a zoo of column
types written by pyarrow and by Spark, under both values of the confs it
reads, it returns None or exactly the schema ``spark.read.parquet`` infers,
and it returns a schema for every type it claims to map."""

from __future__ import annotations

import datetime
import decimal
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fsql_spark.fs import LocalFileSystem
from fsql_spark.readers import footer_schema

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"
ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

_TS = datetime.datetime(2021, 3, 4, 5, 6, 7)
# name -> (arrow array, whether footer_schema must map it)
PYARROW_ZOO = {
    "bool": (pa.array([True, None]), True),
    "int8": (pa.array([1, None], pa.int8()), True),
    "int16": (pa.array([1, None], pa.int16()), True),
    "int32": (pa.array([1, None], pa.int32()), True),
    "int64": (pa.array([1, None], pa.int64()), True),
    "uint8": (pa.array([1, None], pa.uint8()), False),
    "uint16": (pa.array([1, None], pa.uint16()), False),
    "uint32": (pa.array([1, None], pa.uint32()), False),
    "uint64": (pa.array([1, None], pa.uint64()), False),
    "float32": (pa.array([1.5, None], pa.float32()), True),
    "float64": (pa.array([1.5, None], pa.float64()), True),
    "string": (pa.array(["a", None]), True),
    "large_string": (pa.array(["a", None], pa.large_string()), True),
    "binary": (pa.array([b"a", None]), True),
    "date32": (pa.array([datetime.date(2021, 3, 4), None], pa.date32()), True),
    "ts_s": (pa.array([_TS, None], pa.timestamp("s")), True),
    "ts_ms": (pa.array([_TS, None], pa.timestamp("ms")), True),
    "ts_us": (pa.array([_TS, None], pa.timestamp("us")), True),
    "ts_ns": (pa.array([_TS, None], pa.timestamp("ns")), False),
    "ts_s_tz": (pa.array([_TS, None], pa.timestamp("s", "UTC")), True),
    "ts_ms_tz": (pa.array([_TS, None], pa.timestamp("ms", "Europe/Paris")), True),
    "ts_us_tz": (pa.array([_TS, None], pa.timestamp("us", "UTC")), True),
    "ts_ns_tz": (pa.array([_TS, None], pa.timestamp("ns", "UTC")), False),
    "decimal": (pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)), False),
    "dictionary": (pa.array(["a", "b"]).dictionary_encode(), True),
    "list": (pa.array([[1, 2], None]), False),
    "struct": (pa.array([{"a": 1, "b": "x"}, None]), False),
}
CONFS = [
    {NTZ: "true", BINARY_AS_STRING: "false"},
    {NTZ: "false", BINARY_AS_STRING: "false"},
    {NTZ: "true", BINARY_AS_STRING: "true"},
]


@pytest.fixture(params=CONFS, ids=lambda c: f"ntz={c[NTZ]},binaryAsString={c[BINARY_AS_STRING]}")
def confs(request, spark):
    """Sets the confs footer_schema reads for one test, then restores them."""
    saved = {key: spark.conf.get(key) for key in request.param}
    for key, value in request.param.items():
        spark.conf.set(key, value)
    yield request.param
    for key, value in saved.items():
        spark.conf.set(key, value)


def _inferred(spark, path):
    return spark.read.parquet(str(path)).schema


def _footer(spark, path, keys=()):
    return footer_schema(spark, LocalFileSystem(), str(path), keys)


@pytest.mark.parametrize("name", list(PYARROW_ZOO))
def test_pyarrow_column_maps_as_spark_infers(spark, tmp_path, confs, name):
    array, mapped = PYARROW_ZOO[name]
    path = tmp_path / f"{name}.parquet"
    pq.write_table(pa.table({name: array, "n": pa.array([1, 2], pa.int64())}), path)
    got = _footer(spark, path)
    if mapped:
        assert got is not None, name
    assert got is None or got == _inferred(spark, path), (name, got)


def test_pyarrow_table_of_every_mapped_type(spark, tmp_path, confs):
    """A file holding every mapped type at once, some columns required,
    with a dotted top-level name."""
    columns = {name: array for name, (array, mapped) in PYARROW_ZOO.items() if mapped}
    fields = [pa.field(name, array.type) for name, array in columns.items()]
    fields.append(pa.field("a.b", pa.int64(), nullable=False))
    table = pa.table([*columns.values(), pa.array([1, 2], pa.int64())], schema=pa.schema(fields))
    path = tmp_path / "all.parquet"
    pq.write_table(table, path)
    got = _footer(spark, path)
    assert got is not None
    assert got == _inferred(spark, path)


def test_unmapped_parquet_shapes_give_none(spark, tmp_path, confs):
    """Field ids, INT96 and a nested column: Spark infers."""
    with_id = pa.schema([pa.field("x", pa.int64(), metadata={b"PARQUET:field_id": b"7"})])
    pq.write_table(pa.table({"x": [1]}, schema=with_id), tmp_path / "ids.parquet")
    pq.write_table(
        pa.table({"t": pa.array([_TS], pa.timestamp("ns"))}), tmp_path / "int96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    pq.write_table(pa.table({"x": [1], "s": [{"a": 1}]}), tmp_path / "nested.parquet")
    for name in ("ids", "int96", "nested"):
        path = tmp_path / f"{name}.parquet"
        assert _footer(spark, path) is None, name
        _inferred(spark, path)  # Spark still reads it


def test_spark_written_file_maps_through_its_row_metadata(spark, tmp_path, confs):
    """Nested, decimal and non-nullable columns are outside the Parquet map:
    only the StructType JSON Spark stored yields them."""
    df = spark.range(3).select(
        F.col("id"),  # not nullable
        F.col("id").cast("decimal(12,3)").alias("dec"),
        F.array(F.col("id")).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.lit(_TS).cast("timestamp_ntz").alias("ntz"),
        F.lit(_TS).cast("timestamp").alias("ts"),
        F.lit(b"x").alias("bin"),
        F.col("id").cast("short").alias("sh"),
    )
    out = tmp_path / "spark"
    df.coalesce(1).write.parquet(str(out))
    [path] = out.glob("part-*.parquet")
    assert ROW_METADATA in pq.read_metadata(path).metadata
    got = _footer(spark, path)
    assert got is not None
    assert got == _inferred(spark, path)


def test_row_metadata_wins_over_the_parquet_schema(spark, tmp_path):
    """Spark trusts the stored JSON, field metadata included; JSON it cannot
    parse leaves inference to Spark."""
    stored = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {"comment": "from the json"}},
    ]}
    table = pa.table({"x": pa.array([1], pa.int64())})
    good, bad = tmp_path / "good.parquet", tmp_path / "bad.parquet"
    pq.write_table(table.replace_schema_metadata({ROW_METADATA: json.dumps(stored)}), good)
    pq.write_table(table.replace_schema_metadata({ROW_METADATA: b"not json"}), bad)
    got = _footer(spark, good)
    assert got is not None and got["x"].metadata == {"comment": "from the json"}
    assert got == _inferred(spark, good)
    assert _footer(spark, bad) is None


def test_partition_keys_are_left_out(spark, tmp_path):
    """A field named like a key is dropped, case-insensitively unless the
    session is case-sensitive."""
    path = tmp_path / "f.parquet"
    pq.write_table(pa.table({"K": [1], "j": [2], "x": ["a"]}), path)
    assert _footer(spark, path, ["j"]).names == ["K", "x"]
    saved = spark.conf.get("spark.sql.caseSensitive")
    try:
        spark.conf.set("spark.sql.caseSensitive", "false")
        assert _footer(spark, path, ["k", "j"]).names == ["x"]
        spark.conf.set("spark.sql.caseSensitive", "true")
        assert _footer(spark, path, ["k", "j"]).names == ["K", "x"]
    finally:
        spark.conf.set("spark.sql.caseSensitive", saved)


def test_unreadable_file_gives_none(spark, tmp_path):
    path = tmp_path / "f.parquet"
    path.write_bytes(b"not parquet")
    assert _footer(spark, path) is None
    assert _footer(spark, tmp_path / "missing.parquet") is None
