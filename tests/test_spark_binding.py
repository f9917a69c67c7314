"""Every read binds a ``key=value`` name as Spark's partition discovery
does (``column_parser.hive_binding``): each ``%XX`` with two hex digits is
the character with that code, and ``__HIVE_DEFAULT_PARTITION__`` is None.
The prefix load, the path join's map-literal lookup, ``PandasReader``,
``ListingReader``, an ``AtomicQuery``'s function and ``drop_partitions``
thus all see the values ``spark.read.load(root)`` returns."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from fsql_spark import AtomicQuery, read_partitioned_table, write_table
from fsql_spark.column_parser import AutoParser
from fsql_spark.maintenance import drop_partitions
from fsql_spark.queries import Q_EQ, Q_IN, Q_TRUE
from fsql_spark.readers import ListingReader, PandasReader, SparkReader

# Spark writes "x/y" as k=x%2Fy, "p%q" as k=p%25q, "a=b" as k=a%3Db, "ü" as
# it is and None as k=__HIVE_DEFAULT_PARTITION__
VALUES = ["x/y", "p%q", "a=b", "ü", "1", None]
# hand-made names beside what Spark binds for them (Spark 4.1): one
# character per escape, and a "%" without two hex digits after it stays
NAME_ZOO = {
    "end%41": "endA",
    "%%41": "%A",
    "u%C3%BC": "u\u00c3\u00bc",
    "a%2Fb": "a/b",
    "a%5Cb": "a\\b",
    "end%4": "end%4",
    "t%2": "t%2",
    "p%+1q": "p%+1q",
    "p%-1q": "p%-1q",
    "x%zz": "x%zz",
    "q% 1": "q% 1",
    "sp ace+plus": "sp ace+plus",
    "__HIVE_DEFAULT_PARTITION__": None,
}


def _rows(pairs):
    return sorted((int(x), "\0" if k is None or k != k else k) for x, k in pairs)


def _spark_rows(df):
    return _rows((r.x, r.k) for r in df.collect())


@pytest.fixture(scope="module")
def tree(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("binding") / "t")
    df = spark.createDataFrame(list(enumerate(VALUES)), "x long, k string")
    write_table(df.coalesce(1), root, partition_by=["k"])
    return root


@pytest.mark.parametrize(
    "query, keep",
    [
        (Q_TRUE, lambda k: True),
        (Q_EQ("k", "x/y"), lambda k: k == "x/y"),
        (Q_IN("k", ["p%q", "a=b", "ü", "1"]), lambda k: k in ("p%q", "a=b", "ü", "1")),
        (None, lambda k: k is None),
    ],
    ids=["Q_TRUE", "Q_EQ", "Q_IN", "null"],
)
def test_every_read_binds_as_spark(spark, tree, query, keep):
    full = spark.read.load(tree)
    want = _rows((r.x, r.k) for r in full.collect() if keep(r.k))
    assert len(want) > 0
    for q in ([query] if query is not None else []) + [AtomicQuery(keep)]:
        fast = read_partitioned_table(tree, q, spark=spark)
        assert fast.dtypes == full.dtypes, q
        assert _spark_rows(fast) == want, q
        joined, failures = read_partitioned_table(tree, q, data_reader=SparkReader(lazy_errors=True), spark=spark)
        assert failures == [] and _spark_rows(joined) == want, q
        frame = read_partitioned_table(tree, q, data_reader=PandasReader(), spark=spark)
        assert _rows(zip(frame["x"], frame["k"])) == want, q
        listing = read_partitioned_table(tree, q, data_reader=ListingReader(), spark=spark)
        assert _rows((0, r.k) for r in listing.collect()) == _rows((0, k) for _, k in want), q


def test_kept_filter_holds_slash_and_null(spark, tree):
    """The kept partitions are one literal that Spark prunes with, "/" and
    NULL values included."""
    out = read_partitioned_table(tree, AtomicQuery(lambda k: k in ("x/y", None)), spark=spark)
    assert _spark_rows(out) == [(0, "x/y"), (5, "\0")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [arrays_overlap(array(array(k#" in plan, plan


def test_drop_partitions_matches_the_unescaped_value(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(list(enumerate(VALUES)), "x long, k string")
    write_table(df.coalesce(1), root, partition_by=["k"])
    assert os.path.isdir(f"{root}/k=x%2Fy")
    assert drop_partitions(root, Q_EQ("k", "x/y")) == [f"{root}/k=x%2Fy"]
    assert not os.path.exists(f"{root}/k=x%2Fy")
    rest = read_partitioned_table(root, Q_TRUE, spark=spark)
    assert _spark_rows(rest) == _rows((i, v) for i, v in enumerate(VALUES) if v != "x/y")


def test_name_zoo_binds_as_spark(spark, tmp_path):
    root = tmp_path / "zoo"
    names = list(NAME_ZOO)
    for i, name in enumerate(names):
        (root / f"k={name}").mkdir(parents=True)
        pd.DataFrame({"x": [i]}).to_parquet(root / f"k={name}" / "f.parquet")
    full = spark.read.load(str(root))
    spark_values = {r.x: r.k for r in full.collect()}
    assert spark_values == {i: NAME_ZOO[name] for i, name in enumerate(names)}
    assert [AutoParser().parse(f"k={name}") for name in names] == [("k", NAME_ZOO[n]) for n in names]

    want = _spark_rows(full)
    every = AtomicQuery(lambda k: True)
    assert _spark_rows(read_partitioned_table(str(root), Q_TRUE, spark=spark)) == want
    assert _spark_rows(read_partitioned_table(str(root), every, spark=spark)) == want
    joined, _ = read_partitioned_table(str(root), every, data_reader=SparkReader(lazy_errors=True), spark=spark)
    assert _spark_rows(joined) == want
    some = {v for i, v in spark_values.items() if i % 2}
    out = read_partitioned_table(str(root), AtomicQuery(lambda k: k in some), spark=spark)
    assert _spark_rows(out) == _rows((i, v) for i, v in spark_values.items() if i % 2)
