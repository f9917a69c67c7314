"""Query-directed listing on the fast path: ``read_partitioned_table`` lists
only the partition prefixes the query can keep and hands them to one
``load(prefixes)`` with ``basePath=root``, while ``where(query)`` keeps the
answer exact.

The property test pins the answer to a plain full-table read,
``spark.read.load(root).where(q.to_column(available))``: same rows, same
dtypes, empty results included. The other tests pin each rule for where
the walk stops, and that what Spark lists follows the query."""

from __future__ import annotations

import datetime
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

import fsql_spark.api as api
from fsql_spark import AtomicQuery, read_partitioned_table, write_table
from fsql_spark.fs import LocalFileSystem
from fsql_spark.queries import DateRangeQuery, Q_AND, Q_EQ, Q_IN, Q_OR, Q_TRUE
from fsql_spark.readers import SparkReader

from .test_query_compile_equivalence import random_queries

SEED = 11
KEYS = ["year", "month", "day"]
# Spark escapes "/" and "%" in directory names, keeps " " and "ü" as they
# are, and writes None as __HIVE_DEFAULT_PARTITION__
VALUES = {
    "year": ["2020", "2021", "2", "a", "ü", None],
    "month": ["1", "2", "12", "b", "x/y", None],
    "day": ["1", "3", "15", "zz", "s p", "a%b", None],
}


class CountingFileSystem(LocalFileSystem):
    def __init__(self):
        self.ls_calls = 0

    def ls(self, url):
        self.ls_calls += 1
        return super().ls(url)


@pytest.fixture()
def fast_only(monkeypatch):
    """Fail the test if a read leaves the fast path."""

    def no_discovery(*args, **kwargs):
        raise AssertionError("fell back to driver discovery")

    monkeypatch.setattr(api, "discover_partitions", no_discovery)


def _rows(df):
    return sorted(tuple("\0" if v is None else v for v in r) for r in df.collect())


def _write_parquet(root, rel, payload):
    target = root / rel
    target.parent.mkdir(parents=True, exist_ok=True)
    pd.DataFrame({"payload": [payload]}).to_parquet(target)


def _random_tree(spark, rng, root):
    rows = [
        (f"r{i}", *(rng.choice(VALUES[k]) for k in KEYS))
        for i in range(rng.randint(8, 20))
    ]
    df = spark.createDataFrame(rows, "payload string, year string, month string, day string")
    write_table(df.coalesce(1), str(root), partition_by=KEYS)


def _random_date_range(rng):
    start = datetime.date(2019, 12, 1) + datetime.timedelta(days=rng.randint(0, 800))
    return DateRangeQuery(start, start + datetime.timedelta(days=rng.randint(1, 400)))


def _random_value_query(rng):
    """Membership in the tree's own values, escaped ones included."""
    def atom():
        key = rng.choice(KEYS)
        return Q_IN(key, rng.sample([v for v in VALUES[key] if v is not None], 2))

    return Q_AND(atom(), atom()) if rng.random() < 0.5 else atom()


def test_pruned_fast_path_equals_full_read(spark, tmp_path, fast_only):
    rng = random.Random(SEED)
    available = frozenset(KEYS)
    for case in range(3):
        root = tmp_path / f"case{case}"
        _random_tree(spark, rng, root)
        full = spark.read.load(str(root))
        queries = (
            random_queries(rng, KEYS)[:12]
            + [_random_date_range(rng) for _ in range(4)]
            + [_random_value_query(rng) for _ in range(5)]
        )
        for q in queries:
            got = read_partitioned_table(str(root), q, spark=spark)
            want = full.where(q.to_column(available))
            assert got.dtypes == want.dtypes, f"case {case}: {q}"
            assert _rows(got) == _rows(want), f"case {case}: {q}"


def test_underscore_key_round_trips(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "b")], "v long, _src string")
    write_table(df, root, partition_by=["_src"])
    (tmp_path / "t" / ".staging").mkdir()  # still invisible, like _SUCCESS

    everything = read_partitioned_table(root, Q_TRUE, spark=spark)
    assert everything.dtypes == [("v", "bigint"), ("_src", "string")]
    assert _rows(everything) == [(1, "a"), (2, "b"), (3, "b")]
    assert _rows(read_partitioned_table(root, Q_EQ("_src", "b"), spark=spark)) == [(2, "b"), (3, "b")]

    driver = read_partitioned_table(root, AtomicQuery(lambda _src: _src == "a"), spark=spark)
    assert _rows(driver) == [(1, "a")]


def test_files_above_kept_partitions_take_driver_discovery(spark, tmp_path, monkeypatch):
    root = tmp_path / "t"
    for rel in ["year=1/month=1/f", "year=2/g", "year=2/month=3/h", "year=3/month=5/i", "year=3/month=6/j"]:
        _write_parquet(root, rel + ".parquet", rel[-1])
    discovered = []
    discover = api.discover_partitions
    monkeypatch.setattr(api, "discover_partitions", lambda *a: discovered.append(1) or discover(*a))

    out = read_partitioned_table(str(root), Q_EQ("year", "2"), spark=spark)
    assert len(discovered) == 1
    assert _rows(out.select("payload", "year", "month")) == [("g", "2", "\0"), ("h", "2", "3")]
    # here the walk lists year=2 and year=3 and prunes month=5: g sits above
    # the kept month=3 and must not be dropped
    q = Q_OR(Q_EQ("year", "2"), Q_AND(Q_EQ("year", "3"), Q_EQ("month", "6")))
    out = read_partitioned_table(str(root), q, spark=spark)
    assert len(discovered) == 2
    assert _rows(out.select("payload", "year", "month")) == [
        ("g", "2", "\0"), ("h", "2", "3"), ("j", "3", "6")
    ]
    # a=2 holds only a file: loaded alone it would hide key b from Spark
    # and the where on b could not resolve
    other = tmp_path / "u"
    _write_parquet(other, "a=1/b=3/f.parquet", "f")
    _write_parquet(other, "a=2/g.parquet", "g")
    q = Q_OR(Q_AND(Q_EQ("a", "2"), Q_EQ("b", "9")), Q_EQ("a", "2"))
    out = read_partitioned_table(str(other), q, spark=spark)
    assert len(discovered) == 3
    assert _rows(out.select("payload", "a")) == [("g", "2")]


def test_glob_character_names_load_the_root(spark, tmp_path, fast_only):
    root = tmp_path / "t"
    for rel, payload in [
        ("k1=a/k2=[x]", "ax"), ("k1=a/k2=y{1,2}", "ay"), ("k1=a/k2=z", "az"), ("k1=b/k2=z", "bz"),
    ]:
        _write_parquet(root, f"{rel}/f.parquet", payload)
    q = Q_AND(Q_EQ("k1", "a"), Q_IN("k2", ["[x]", "y{1,2}"]))
    out = read_partitioned_table(str(root), q, spark=spark)
    assert _rows(out) == [("ax", "a", "[x]"), ("ay", "a", "y{1,2}")]


def test_all_pruned_result_keeps_the_table_schema(spark, tmp_path, fast_only):
    root = tmp_path / "t"
    df = spark.createDataFrame(
        [(1, "2021", "1", "5"), (2, "2021", "2", "7")], "v long, year string, month string, day string"
    )
    write_table(df, str(root), partition_by=KEYS)
    out = read_partitioned_table(str(root), DateRangeQuery("2030/01/01", "2030/02/01"), spark=spark)
    assert out.dtypes == spark.read.load(str(root)).dtypes
    assert out.agg(F.count(F.lit(1))).collect()[0][0] == 0


def test_merge_schema_spans_the_whole_table(spark, tmp_path, fast_only):
    """A merged schema is the table's: a query that keeps only pre-drift
    partitions still gets the drift column, as NULL."""
    root = tmp_path / "t"
    _write_parquet(root, "year=2020/f.parquet", "old")
    target = root / "year=2021" / "f.parquet"
    target.parent.mkdir(parents=True)
    pd.DataFrame({"payload": ["new"], "channel": ["web"]}).to_parquet(target)
    reader = SparkReader(options={"mergeSchema": "true"})

    for q in [Q_EQ("year", "2020"), Q_IN("year", ["2019", "2020"])]:
        out = read_partitioned_table(str(root), q, data_reader=reader, spark=spark)
        assert out.dtypes == [("payload", "string"), ("channel", "string"), ("year", "string")]
        assert _rows(out) == [("old", "\0", "2020")]
    out = read_partitioned_table(str(root), Q_EQ("year", "2019"), data_reader=reader, spark=spark)
    assert "channel" in out.columns and out.count() == 0


def test_listing_follows_the_query(spark, tmp_path, fast_only):
    root = tmp_path / "t"
    for y in ["2020", "2021"]:
        for m in ["1", "2", "3"]:
            for d in ["1", "2"]:
                _write_parquet(root, f"year={y}/month={m}/day={d}/f.parquet", f"{y}-{m}-{d}")

    def input_files(q, fs=None):
        df = read_partitioned_table(str(root), q, fs=fs, spark=spark)
        return [f.rsplit("/t/", 1)[1] for f in df.inputFiles()]

    def input_months(q):
        return {f.rsplit("/", 2)[0] for f in input_files(q)}

    assert input_months(Q_EQ("year", "2021")) == {f"year=2021/month={m}" for m in "123"}
    q = Q_AND(Q_EQ("year", "2021"), Q_IN("month", ["1", "3"]))
    assert input_months(q) == {"year=2021/month=1", "year=2021/month=3"}

    probe_fs, fs = CountingFileSystem(), CountingFileSystem()
    api._probe_first_leaf(probe_fs, str(root) + "/")
    assert len(input_files(Q_TRUE, fs)) == 12
    assert fs.ls_calls == probe_fs.ls_calls
