"""Reader polymorphism + write_object roundtrips, mirroring the reference
(`tests/test_dict_reader.py`, `tests/test_identity_reader.py`,
`tests/test_pandasreader.py`, `tests/test_write_object.py`,
`tests/test_listing_sorted.py`)."""

from __future__ import annotations

import io
import json

import pandas as pd
import pytest

from fsql_spark import (
    ENUMERATED_DICT_READER,
    EnumeratedDictReader,
    IDENTITY_READER,
    InputFormat,
    ListingReader,
    PandasReader,
    Q_EQ,
    Q_TRUE,
    SparkReader,
    read_partitioned_table,
    write_object,
)
from fsql_spark.readers import input_files

from .conftest import assert_same


def test_dict_reader_ordered(spark, tmp_path):
    """dict output keyed by deterministic (sorted) file order
    (`test_dict_reader.py:11-23`, `test_listing_sorted.py`)."""
    (tmp_path / "t").mkdir()
    # write in non-sorted order on purpose
    for name, val in [("elem2.json", 2), ("elem1.json", 1)]:
        (tmp_path / "t" / name).write_text(json.dumps({"val": val}))
    out = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=ENUMERATED_DICT_READER, spark=spark
    )
    assert out == {0: {"val": 1}, 1: {"val": 2}}


def test_dict_reader_lazy_errors(spark, tmp_path):
    """Garbage file: eager raises, lazy returns partial + failures
    (`test_dict_reader.py:26-43`)."""
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "f1.json").write_text(json.dumps({"val": 1}))
    (tmp_path / "t" / "f2.json").write_text("this is not json")
    with pytest.raises(Exception):
        read_partitioned_table(str(tmp_path / "t"), Q_TRUE, data_reader=ENUMERATED_DICT_READER, spark=spark)
    data, failures = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=EnumeratedDictReader(lazy_errors=True), spark=spark
    )
    assert data == {0: {"val": 1}}
    assert len(failures) == 1 and failures[0].partition.url.endswith("f2.json")


def test_identity_reader_consume(spark, tmp_path):
    """Fancy-ls records + consume callback (`test_identity_reader.py:19-27`)."""
    d = tmp_path / "t/k=1"
    d.mkdir(parents=True)
    (d / "f1.json").write_text(json.dumps({"val": 7}))
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, data_reader=IDENTITY_READER, spark=spark)
    assert len(out) == 1
    fip = out[0]
    assert fip.partition_values == {"k": "1"}
    assert fip.consume(lambda fd: json.load(fd)) == {"val": 7}


def test_listing_reader_dataframe(spark, tmp_path):
    d = tmp_path / "t/k=1"
    d.mkdir(parents=True)
    pd.DataFrame({"a": [1]}).to_parquet(d / "f.parquet")
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, data_reader=ListingReader(), spark=spark)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["k"] == "1" and rows[0]["path"].endswith("f.parquet")


def test_projection_pushdown_and_schema_failure(spark, tmp_path):
    """columns= projection + per-file schema mismatch collected lazily
    (`test_pandasreader.py:29-56`)."""
    (tmp_path / "t").mkdir()
    pd.DataFrame({"c1": [1], "c2": [2], "c3": [3]}).to_parquet(tmp_path / "t/f2.parquet")
    pd.DataFrame({"c1": [1], "c2": [2]}).to_parquet(tmp_path / "t/f1.parquet")

    out = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=SparkReader(columns=["c1"]), spark=spark
    )
    assert out.columns == ["c1"]

    data, failures = read_partitioned_table(
        str(tmp_path / "t"),
        Q_TRUE,
        data_reader=SparkReader(columns=["c3"], lazy_errors=True),
        spark=spark,
    )
    assert len(failures) == 1 and failures[0].partition.url.endswith("f1.parquet")
    assert data.count() == 1


def test_format_override(spark, tmp_path, df1):
    """File named .json that is actually CSV: autodetect fails, explicit format
    succeeds (`test_pandasreader.py:13-26`)."""
    (tmp_path / "t").mkdir()
    df1.to_csv(tmp_path / "t/f1.json", index=False)
    out = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=SparkReader(input_format=InputFormat.CSV), spark=spark
    )
    assert_same(out, df1)


def test_pandas_reader_lazy_errors(spark, tmp_path):
    (tmp_path / "t").mkdir()
    pd.DataFrame({"a": [1]}).to_parquet(tmp_path / "t/good.parquet")
    (tmp_path / "t" / "bad.parquet").write_bytes(b"junk")
    data, failures = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=PandasReader(lazy_errors=True), spark=spark
    )
    assert data["a"].tolist() == [1]
    assert len(failures) == 1


def test_write_object_roundtrips(spark, tmp_path, df1):
    """write_object -> read back, parquet/csv/json + raw buffers
    (`test_write_object.py:12-115`)."""
    p = tmp_path / "out.parquet"
    write_object(str(p), df1)
    assert_same(pd.read_parquet(p), df1)

    c = tmp_path / "out.csv"
    write_object(str(c), df1, format="csv")
    assert_same(pd.read_csv(c, index_col=0), df1)

    j = tmp_path / "out.json"
    write_object(str(j), df1, format="json")
    assert_same(pd.read_json(j), df1)

    buf = io.BytesIO(b"raw bytes")
    write_object(str(tmp_path / "out.bin"), buf)
    assert (tmp_path / "out.bin").read_bytes() == b"raw bytes"

    sbuf = io.StringIO("raw text")
    write_object(str(tmp_path / "out.txt"), sbuf)
    assert (tmp_path / "out.txt").read_text() == "raw text"

    with pytest.raises(ValueError, match="cannot specify format"):
        write_object(str(tmp_path / "x.bin"), io.BytesIO(b"z"), format="parquet")
    with pytest.raises(ValueError, match="unsupported format"):
        write_object(str(tmp_path / "x.xyz"), df1, format="xyz")
    with pytest.raises(ValueError, match="cannot infer writer"):
        write_object(str(tmp_path / "x"), 42)


def test_write_object_parquet_engine_option(spark, tmp_path, df1):
    """Reference `api.py:138-146` engine kwarg: pyarrow/fastparquet accepted
    (fastparquet import-gated with a clear error when absent, like xlsx),
    anything else refused."""
    p = tmp_path / "pa.parquet"
    write_object(str(p), df1, format_options={"engine": "pyarrow"})
    assert_same(pd.read_parquet(p), df1)
    with pytest.raises(ValueError, match="unsupported engine"):
        write_object(str(tmp_path / "bad.parquet"), df1, format_options={"engine": "avro"})
    fp = tmp_path / "fp.parquet"
    try:
        import fastparquet  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="fastparquet"):
            write_object(str(fp), df1, format_options={"engine": "fastparquet"})
        return
    write_object(str(fp), df1, format_options={"engine": "fastparquet"})
    assert_same(pd.read_parquet(fp), df1)


def test_write_table_partitioned_roundtrip(spark, tmp_path, df1):
    """Partitioned Spark write readable back via read_partitioned_table."""
    from fsql_spark import write_table

    sdf = spark.createDataFrame(df1.assign(part=["x", "y"]))
    write_table(sdf, str(tmp_path / "t"), partition_by=["part"])
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    assert_same(out, df1.assign(part=["x", "y"]))


def test_orc_roundtrip_both_read_paths(spark, tmp_path, df1):
    """ORC (format-registry extension): a partitioned ORC write reads back
    through BOTH the Catalyst fast path (suffix autodetect on the .orc leaf)
    and the driver-discovery PandasReader — the scan machinery is
    format-agnostic, only the leaf source differs."""
    from fsql_spark import write_table

    sdf = spark.createDataFrame(df1.assign(part=["x", "y"]))
    write_table(sdf, str(tmp_path / "t"), format="orc", partition_by=["part"])
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    assert_same(out, df1.assign(part=["x", "y"]))
    pdf = read_partitioned_table(
        str(tmp_path / "t"), Q_EQ("part", "x"), data_reader=PandasReader(), spark=spark
    )
    assert list(pdf["part"]) == ["x"] and isinstance(pdf["part"].iloc[0], str)
    # single-object pandas ORC write (write_object format extension)
    (tmp_path / "o").mkdir()
    write_object(str(tmp_path / "o/f.orc"), df1, format="orc")
    back = read_partitioned_table(str(tmp_path / "o"), Q_TRUE, spark=spark)
    assert_same(back, df1)


def test_unknown_suffix_raises(spark, tmp_path, df1):
    (tmp_path / "t").mkdir()
    df1.to_csv(tmp_path / "t/f1.weird", index=False)
    with pytest.raises(KeyError):
        read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)


def test_xlsx_gated_on_openpyxl(spark, tmp_path, df1):
    """xlsx path exists but is import-gated: without openpyxl it raises a
    clear ImportError (the env has no xlsx codec; reference `deser.py:83-95`)."""
    (tmp_path / "t").mkdir()
    # a file with the xlsx suffix; the reader should fail on the missing
    # engine import before ever parsing content
    (tmp_path / "t" / "f1.xlsx").write_bytes(b"PK\x03\x04 fake")
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl installed; xlsx path is exercised for real")
    except ImportError:
        pass
    with pytest.raises(Exception, match="(?i)openpyxl"):
        read_partitioned_table(
            str(tmp_path / "t"), Q_TRUE, data_reader=PandasReader(), spark=spark
        )


def test_mixed_formats_in_one_tree(spark, tmp_path, df1, df2):
    """Different file formats under one table root: the driver path groups
    files per detected format and NaN-pad unions the results (per-file
    format dispatch, reference `deser.py:132-136`)."""
    from fsql_spark import AtomicQuery

    (tmp_path / "t/k=csv").mkdir(parents=True)
    (tmp_path / "t/k=json").mkdir(parents=True)
    df1.to_csv(tmp_path / "t/k=csv/f.csv", index=False)
    df2.to_json(tmp_path / "t/k=json/f.json", orient="records", lines=True)
    # AtomicQuery forces the driver path (fast path needs a single format)
    out = read_partitioned_table(
        str(tmp_path / "t"), AtomicQuery(lambda k: True), spark=spark
    )
    pdf = out.toPandas()
    assert len(pdf) == 4
    assert set(pdf["k"]) == {"csv", "json"}
    assert sorted(pdf["c1"].astype(int).tolist()) == [0, 1, 2, 3]


def test_fast_path_merge_schema_option_passthrough(spark, tmp_path):
    """Schema evolution: reader options reach the Catalyst fast path —
    mergeSchema unions per-file schemas instead of sampling one footer."""
    import pandas as pd

    from fsql_spark.api import read_partitioned_table
    from fsql_spark.queries import Q_TRUE
    from fsql_spark.readers import SparkReader

    root = tmp_path / "evolve"
    (root / "v=1").mkdir(parents=True)
    (root / "v=2").mkdir(parents=True)
    pd.DataFrame({"a": [1]}).to_parquet(root / "v=1" / "f.parquet")
    pd.DataFrame({"a": [2], "b": ["new"]}).to_parquet(root / "v=2" / "f.parquet")

    out = read_partitioned_table(
        str(root), Q_TRUE, data_reader=SparkReader(options={"mergeSchema": "true"}), spark=spark
    ).toPandas()
    assert set(out.columns) == {"a", "b", "v"}
    assert sorted(out["a"]) == [1, 2]
    assert out.loc[out["v"] == "2", "b"].iloc[0] == "new"


def test_format_autodetect_compressed_and_jsonl(spark, tmp_path):
    """Compression suffixes are transparent to format detection (crawl
    dumps arrive as .json.gz / .csv.zst), jsonl detects as JSON-lines, and
    unknown suffixes keep the reference's KeyError semantics
    (/root/reference/src/fsql/deser.py:78-95). End-to-end: a gzipped
    jsonl partition reads through read_partitioned_table."""
    import gzip
    import os

    from fsql_spark.formats import InputFormat

    assert InputFormat.from_url("s3://b/t/f.csv.gz") is InputFormat.CSV
    assert InputFormat.from_url("f.JSON.GZ") is InputFormat.JSON
    assert InputFormat.from_url("f.jsonl") is InputFormat.JSON
    assert InputFormat.from_url("f.jsonl.zst") is InputFormat.JSON
    assert InputFormat.from_url("dir/f.parquet") is InputFormat.PARQUET
    with pytest.raises(KeyError):
        InputFormat.from_url("f.gz")  # no inner format
    with pytest.raises(KeyError):
        InputFormat.from_url("f.weird")

    root = tmp_path / "gz_tree"
    d = root / "part=a"
    os.makedirs(d)
    with gzip.open(d / "rows.json.gz", "wt") as fd:
        fd.write('{"c1": 1, "c2": "x"}\n{"c1": 2, "c2": "y"}\n')
    out = read_partitioned_table(str(root), Q_TRUE, spark=spark).toPandas()
    assert sorted(out["c1"]) == [1, 2]
    assert set(out["part"]) == {"a"}


def test_feather_reads_via_pandas_reader(spark, tmp_path, df1):
    """Arrow IPC / Feather V2 (format-registry extension): autodetected
    from .feather/.arrow, read through the pandas reader (pyarrow is a
    baked-in dependency — no gate needed), partition columns appended as
    strings like every other format."""
    d = tmp_path / "t" / "k=1"
    d.mkdir(parents=True)
    df1.to_feather(d / "f1.feather")
    got = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=PandasReader(), spark=spark
    )
    assert sorted(got["k"].tolist()) == ["1"] * len(df1)
    left = got.drop(columns=["k"]).sort_values(list(df1.columns)).reset_index(drop=True)
    assert left.equals(df1.sort_values(list(df1.columns)).reset_index(drop=True))
    # the .arrow alias detects identically
    from fsql_spark.formats import InputFormat

    assert InputFormat.from_url("x/y.arrow") is InputFormat.FEATHER
    # and the Spark fast path refuses with the same guidance as xlsx
    with pytest.raises(ValueError, match="pandas reader"):
        InputFormat.FEATHER.spark_format()


def test_write_object_feather_roundtrip(spark, tmp_path, df1):
    """Feather/Arrow-IPC write parity (r10): write_object gained the write
    arm matching the r9 read arm — round-trips through pandas AND through
    the PandasReader path, both format names accepted."""
    p = tmp_path / "out.feather"
    write_object(str(p), df1, format="feather")
    assert_same(pd.read_feather(p), df1)

    # the .arrow alias writes the identical Arrow IPC file format
    a = tmp_path / "out2.arrow"
    write_object(str(a), df1, format="arrow")
    assert_same(pd.read_feather(a), df1)

    # and the engine's own reader loads what the engine wrote
    d = tmp_path / "t" / "k=1"
    d.mkdir(parents=True)
    write_object(str(d / "f1.feather"), df1, format="feather")
    got = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=PandasReader(), spark=spark
    )
    left = got.drop(columns=["k"]).sort_values(list(df1.columns)).reset_index(drop=True)
    assert left.equals(df1.sort_values(list(df1.columns)).reset_index(drop=True))


def test_input_files_matches_pyspark(spark, tmp_path):
    """One py4j call returns what ``df.inputFiles()`` returns, in order."""
    for i, value in enumerate(["a", "s p", "ü", "x=y"]):
        target = tmp_path / "t" / f"k={value}"
        target.mkdir(parents=True)
        pd.DataFrame({"x": [i]}).to_parquet(target / "f.parquet")
    df = spark.read.parquet(str(tmp_path / "t"))
    assert len(df.inputFiles()) == 4
    assert input_files(df) == df.inputFiles()
    assert input_files(spark.range(1)) == []
