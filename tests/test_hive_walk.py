"""The one walk of a Hive read (``discovery.query_prefixes``) serves
inexpressible queries and generated levels too: it lists only what it
keeps, checks only the generated prefixes it loads, and answers as the
path join (the map-literal lookup of each row's file) does over the same
discovered partitions. Empty
partition values and an empty leading directory no longer send reads to
driver discovery."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql.types import StructType

import fsql_spark.api as api
from fsql_spark import AtomicQuery, DateRangeGenerator, read_partitioned_table
from fsql_spark.column_parser import AUTO_PARSER
from fsql_spark.discovery import Partition, discover_partitions
from fsql_spark.formats import InputFormat
from fsql_spark.fs import LocalFileSystem
from fsql_spark.queries import DateRangeQuery, Q_EQ, Q_IN, Q_TRUE
from fsql_spark.readers import SparkReader

from .test_driver_prefix_load import _empty_value_tree

FIRST_DAY = datetime.date(2021, 11, 1)
DAYS = 120  # 2021-11-01 .. 2022-02-28


class CountingFileSystem(LocalFileSystem):
    """Counts every listing and stat call: on an object store each is a
    request."""

    def __init__(self):
        self.calls: list[tuple[str, str]] = []

    def ls(self, url):
        self.calls.append(("ls", url))
        return super().ls(url)

    def isdir(self, url):
        self.calls.append(("isdir", url))
        return super().isdir(url)

    def exists(self, url):
        self.calls.append(("exists", url))
        return super().exists(url)


@pytest.fixture()
def discovered(monkeypatch):
    """How often a read called driver discovery."""
    calls = []
    discover = api.discover_partitions
    monkeypatch.setattr(api, "discover_partitions", lambda *a, **k: calls.append(1) or discover(*a, **k))
    return calls


@pytest.fixture(scope="module")
def dated(tmp_path_factory):
    """A year/month/day tree with one file on each of 120 days."""
    root = tmp_path_factory.mktemp("walk") / "dated"
    for i in range(DAYS):
        day = FIRST_DAY + datetime.timedelta(days=i)
        target = root / f"year={day.year}" / f"month={day.month}" / f"day={day.day}"
        target.mkdir(parents=True)
        pd.DataFrame({"x": [i]}).to_parquet(target / "f.parquet")
    return str(root)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _path_join(spark, root, query, parser=AUTO_PARSER):
    parts = list(discover_partitions(query, parser, Partition(f"{root}/", {}), LocalFileSystem()))
    return SparkReader().read(spark, parts, LocalFileSystem(), InputFormat.AUTO)


def test_inexpressible_and_generated_reads_list_what_they_keep(spark, dated, discovered):
    """Two kept months of an AtomicQuery, a 40-day generator and a 30-day
    one each take at most 8 listing and stat calls; driver discovery listed
    every kept leaf, or every generated day. The 30 generated days Spark
    loads are checked to exist by listing the two months that hold them."""
    months = {("2021", "12"), ("2022", "1")}
    start, end = "2021/12/10", "2022/01/19"
    reads = [
        (AtomicQuery(lambda year, month: (year, month) in months), AUTO_PARSER),
        (DateRangeQuery(start, end), DateRangeGenerator.build(start, end)),
        (DateRangeQuery("2021/12/05", "2022/01/04"), DateRangeGenerator.build("2021/12/05", "2022/01/04")),
    ]
    for query, parser in reads:
        fs = CountingFileSystem()
        got = read_partitioned_table(dated, query, column_parser=parser, fs=fs, spark=spark)
        assert len(fs.calls) <= 8, fs.calls
        assert not any("month=11" in url or "month=2/" in url for _, url in fs.calls), fs.calls
        want = _path_join(spark, dated, query, parser)
        assert got.columns == want.columns == ["x", "year", "month", "day"]
        assert _rows(got) == _rows(want) and got.count() in (31 + 31, 40, 30)
    assert discovered == []


@pytest.mark.parametrize("start, end", [("2021/10/20", "2022/03/10"), ("2021/10/30", "2021/11/03")])
def test_generated_range_beyond_the_tree(spark, dated, discovered, start, end):
    """Generated days the tree lacks are dropped, whether the loaded
    prefixes are months or days."""
    gen = DateRangeGenerator.build(start, end)
    got = read_partitioned_table(dated, Q_TRUE, column_parser=gen, spark=spark)
    want = _path_join(spark, dated, Q_TRUE, gen)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want) and want.count() > 0
    assert discovered == []


@pytest.mark.parametrize("query", [Q_TRUE, AtomicQuery(lambda k: True)], ids=["Q_TRUE", "AtomicQuery"])
def test_empty_table_is_probed_once(spark, tmp_path, monkeypatch, discovered, query):
    """A table root holding only ``_SUCCESS`` reads as no partitions after
    one first-leaf probe and at most two listings of the root, without
    driver discovery."""
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "_SUCCESS").touch()
    probes = []
    probe = api._probe_first_leaf
    monkeypatch.setattr(api, "_probe_first_leaf", lambda fs, url: probes.append(url) or probe(fs, url))
    fs = CountingFileSystem()
    got = read_partitioned_table(str(tmp_path / "t"), query, fs=fs, spark=spark)
    assert got.schema == StructType([]) and got.count() == 0
    assert len([call for call in fs.calls if call[0] == "ls"]) <= 2, fs.calls
    assert len(probes) == 1 and discovered == []


def test_empty_partition_value_takes_the_path_join(spark, tmp_path):
    """Spark's load() fails on a ``k=`` directory with an internal error;
    the read falls back to the path join, which binds ``k`` as ""."""
    root = str(tmp_path / "t")
    _empty_value_tree(root)
    want = _rows(read_partitioned_table(root, AtomicQuery(lambda k: True), spark=spark))
    assert want == [(1, ""), (2, "1")]
    for query in (Q_TRUE, Q_IN("k", ["", "1"])):
        assert _rows(read_partitioned_table(root, query, spark=spark)) == want, query


def test_empty_leading_directory_keeps_the_prefix_load(spark, tmp_path, discovered):
    """The first-leaf probe passes over an empty ``k=0/`` for its next
    sibling, and a read that keeps only that directory is the typed empty
    result."""
    (tmp_path / "t" / "k=0").mkdir(parents=True)
    for i in range(1, 40):
        target = tmp_path / "t" / f"k={i}"
        target.mkdir()
        pd.DataFrame({"x": [i]}).to_parquet(target / "f.parquet")
    root = str(tmp_path / "t")
    reads = [
        (Q_TRUE, list(range(1, 40))),
        (Q_EQ("k", "5"), [5]),
        (AtomicQuery(lambda k: k in {"0", "3", "30"}), [3, 30]),
        (Q_EQ("k", "0"), []),
    ]
    for query, xs in reads:
        out = read_partitioned_table(root, query, spark=spark)
        assert out.dtypes == [("x", "bigint"), ("k", "string")], query
        assert _rows(out) == [(x, str(x)) for x in xs], query
    assert discovered == []
