"""Names holding Hadoop's glob characters ``*?[]{}\\`` read as themselves.

Hadoop globs every path handed to ``DataFrameReader.load()``: unescaped,
``k=[x]`` would load ``k=x`` and ``y{1,2}`` would load ``y1`` and ``y2``.
``SparkReader.scan`` escapes each loaded path, so the prefix load (expressible
and exact walks, a generated level, the typed empty result) and the
path join's file list read glob-named directories, files and table roots,
and load only what the query keeps."""

from __future__ import annotations

from urllib.parse import unquote

import pandas as pd
import pytest

import fsql_spark.api as api
from fsql_spark import AtomicQuery, read_partitioned_table
from fsql_spark.column_parser import AutoParser, FixedColumnsParser, PartitionGrammar
from fsql_spark.queries import Q_AND, Q_EQ, Q_IN, Q_TRUE
from fsql_spark.readers import SparkReader

# each glob-named directory beside the plain names its pattern would match
GLOB_VALUES = ["[x]", "x", "y{1,2}", "y1", "q*?\\", "q1\\"]


@pytest.fixture()
def discovered(monkeypatch):
    """How often a read fell back to driver discovery."""
    calls = []
    discover = api.discover_partitions
    monkeypatch.setattr(api, "discover_partitions", lambda *a: calls.append(1) or discover(*a))
    return calls


def _write(root, rel, payload):
    target = root / rel
    target.parent.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({"payload": [payload]}).to_parquet(target)


def _glob_tree(root):
    for k1 in ("a", "b"):
        for v in GLOB_VALUES:
            _write(root, f"k1={k1}/k2={v}/f.parquet", f"{k1}:{v}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _scanned(df, root):
    """The files ``df`` scans, relative to ``root``."""
    return sorted(unquote(f).removeprefix(f"file://{root}/") for f in df.inputFiles())


@pytest.mark.parametrize(
    "query",
    [Q_IN("k2", ["[x]", "y{1,2}", "q*?\\"]), AtomicQuery(lambda k2: k2 in ("[x]", "y{1,2}", "q*?\\"))],
    ids=["expressible", "exact"],
)
def test_prefix_load_reads_glob_names(spark, tmp_path, discovered, query):
    root = tmp_path / "t"
    _glob_tree(root)
    out = read_partitioned_table(str(root), Q_AND(Q_EQ("k1", "a"), query), spark=spark)
    assert discovered == []
    kept = ["[x]", "q*?\\", "y{1,2}"]
    assert _rows(out) == [(f"a:{v}", "a", v) for v in kept]
    assert _scanned(out, root) == [f"k1=a/k2={v}/f.parquet" for v in kept]


def test_generated_glob_value_reads_itself(spark, tmp_path, discovered):
    root = tmp_path / "t"
    _glob_tree(root)
    parser = AutoParser([PartitionGrammar("k1"), PartitionGrammar("k2", ("y{1,2}", "[x]", "absent"))])
    out = read_partitioned_table(str(root), Q_TRUE, column_parser=parser, spark=spark)
    assert discovered == []
    assert _rows(out) == [(f"{k1}:{v}", k1, v) for k1 in "ab" for v in ("[x]", "y{1,2}")]


def test_path_join_reads_glob_named_directories(spark, tmp_path):
    root = tmp_path / "t"
    _write(root, "2021/[draft]/f.parquet", "draft")
    _write(root, "2021/d/f.parquet", "d")
    out = read_partitioned_table(
        str(root), AtomicQuery(lambda a: True), column_parser=FixedColumnsParser.from_str("a/b/fname"), spark=spark
    )
    assert _rows(out) == [("d", "2021", "d", "f.parquet"), ("draft", "2021", "[draft]", "f.parquet")]


def test_lazy_errors_path_join_reads_glob_names(spark, tmp_path):
    root = tmp_path / "t"
    _glob_tree(root)
    out, failures = read_partitioned_table(
        str(root), Q_EQ("k1", "b"), data_reader=SparkReader(lazy_errors=True), spark=spark
    )
    assert failures == []
    assert _rows(out) == sorted((f"b:{v}", "b", v) for v in GLOB_VALUES)


@pytest.mark.parametrize(
    "query, parser, reader, want",
    [
        (Q_TRUE, None, None, ["1", "2"]),
        (Q_EQ("k", "2"), None, None, ["2"]),
        (AtomicQuery(lambda k: k == "1"), None, None, ["1"]),
        (Q_EQ("k", "9"), None, None, []),
        (AtomicQuery(lambda k: True), None, SparkReader(lazy_errors=True), ["1", "2"]),
        (AtomicQuery(lambda k, fname: k == "k=2"), FixedColumnsParser.from_str("k/fname"), None, ["2"]),
    ],
    ids=["Q_TRUE", "Q_EQ", "exact", "all pruned", "lazy errors", "fixed columns"],
)
def test_glob_named_table_root(spark, tmp_path, discovered, query, parser, reader, want):
    """A root such as ``t[1]/`` reads on both paths: the loaded paths are
    escaped, ``basePath`` stays raw."""
    root = tmp_path / "t[1]"
    for k in ("1", "2"):
        _write(root, f"k={k}/f.parquet", k)
    kwargs = {"column_parser": parser} if parser is not None else {}
    out = read_partitioned_table(str(root), query, data_reader=reader, spark=spark, **kwargs)
    df = out[0] if isinstance(out, tuple) else out
    assert sorted(r.payload for r in df.collect()) == want
    assert "payload" in df.columns
    assert bool(discovered) == (parser is not None or reader is not None)
