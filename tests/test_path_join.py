"""The path join: a read Spark cannot bind itself (a value-only
``FixedColumnsParser`` layout, mixed depths or formats, ...) scans its
discovered files once per format, and ``SparkReader._load_format`` binds
each partition column by looking up the row's ``_metadata.file_path`` in
one map literal.

The plan tests pin that no join is left and that Catalyst sees through the
lookup: a data filter reaches the scan, a key filter prunes files. The key
tests pin that the map's keys (Spark's ``inputFiles()`` strings, in
``_metadata.file_path``'s form) match every file whatever its name, with a
data column named ``_metadata`` beside them, and that a key that misses
fails the query instead of binding NULL."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from fsql_spark import AtomicQuery, read_partitioned_table
from fsql_spark import readers
from fsql_spark.column_parser import FixedColumnsParser
from fsql_spark.queries import Q_TRUE
from fsql_spark.readers import PandasReader, metadata_path

# a space, percent signs (one a valid escape), glob characters, "#" and
# non-ASCII letters
NAMES = ["a b", "p%20q", "100%", "x[1]", "q?", "c{d}", "h#t", "ü ñ"]


def _final_plan(df):
    """The executed physical plan of ``df``'s last action, the AQE final
    plan when AQE ran it."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.executedPlan() if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec" else plan


def _scans(plan):
    """The file scan nodes of a physical plan, query stages included."""
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            found.append(node)
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return found


def _metric(node, name):
    return node.metrics().apply(name).value()


def _months(root):
    """Value-only 2021/1|2|3/a|b.parquet, 50 rows each, ``x`` 0..49."""
    for m in (1, 2, 3):
        for name in "ab":
            target = root / "2021" / str(m)
            target.mkdir(parents=True, exist_ok=True)
            pd.DataFrame({"x": range(50)}).to_parquet(target / f"{name}.parquet")


def test_path_join_plans_no_join_and_pushes_filters(spark, tmp_path, join_calls):
    """No broadcast, join or ``input_file_name`` in the executed plan; a
    data filter is pushed to the scan; a key filter reads only the two
    files that hold the answer."""
    _months(tmp_path / "t")
    df = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, column_parser=FixedColumnsParser.from_str("year/month/fname"), spark=spark
    )
    assert join_calls

    data = df.where(F.col("x") > 40)
    assert len(data.collect()) == 6 * 9
    plan = _final_plan(data).toString()
    for node in ("BroadcastExchange", "BroadcastHashJoin", "input_file_name"):
        assert node not in plan, node
    [scan] = _scans(_final_plan(data))
    assert "GreaterThan(x,40)" in scan.toString()

    keyed = df.where(F.col("month") == "2").groupBy("fname").count()
    assert sorted(map(tuple, keyed.collect())) == [("a.parquet", 50), ("b.parquet", 50)]
    [scan] = _scans(_final_plan(keyed))
    assert (_metric(scan, "numFiles"), _metric(scan, "numOutputRows")) == (2, 100)


def _name_zoo(root, fmt):
    """One file per awkward name, as directory and file name, with a data
    column named ``_metadata``."""
    for i, name in enumerate(NAMES):
        target = root / name
        target.mkdir(parents=True)
        frame = pd.DataFrame({"x": [i], "_metadata": [f"data {i}"]})
        if fmt == "csv":
            frame.to_csv(target / f"{name}.csv", index=False)
        else:
            frame.to_parquet(target / f"{name}.parquet")


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_every_name_binds_beside_a_metadata_column(spark, tmp_path, join_calls, fmt):
    """Every file's key matches its ``_metadata.file_path``: no key binds
    NULL, and the rows equal ``PandasReader``'s."""
    _name_zoo(tmp_path / "t", fmt)
    parser = FixedColumnsParser.from_str("k/fname")
    got = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, column_parser=parser, spark=spark)
    want = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, column_parser=parser, data_reader=PandasReader(), spark=spark
    )
    assert join_calls
    assert got.columns == ["x", "_metadata", "k", "fname"]
    rows = sorted(map(tuple, got.collect()))
    assert all(None not in row for row in rows)
    assert rows == sorted(want[got.columns].itertuples(index=False, name=None))
    assert {row[2] for row in rows} == set(NAMES)


def _write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def test_mixed_depth_binds_none_for_a_missing_key(spark, tmp_path, join_calls):
    """A file whose path lacks a key the others have binds it as None."""
    root = str(tmp_path / "t")
    _write(root, "top.csv", "x\n1\n")
    _write(root, "k=1/f.csv", "x\n2\n")
    out = read_partitioned_table(root, Q_TRUE, spark=spark)
    assert join_calls
    assert sorted(map(tuple, out.collect())) == [(1, None), (2, "1")]


def test_mixed_formats_bind_one_map_per_format(spark, tmp_path, join_calls):
    """A csv and a json file: one scan and one lookup per format, then the
    union."""
    root = str(tmp_path / "t")
    _write(root, "k=1/f.csv", "x\n1\n")
    _write(root, "k=2/f.json", '{"x": 2}\n')
    out = read_partitioned_table(root, AtomicQuery(lambda k: True), spark=spark)
    assert len(join_calls) == 2
    assert sorted((int(r.x), r.k) for r in out.collect()) == [(1, "1"), (2, "2")]


def test_metadata_path_drops_an_empty_authority():
    assert metadata_path("file:///tmp/a%20b/f.csv") == "file:/tmp/a%20b/f.csv"
    assert metadata_path("s3a://bucket/k=1/f.csv") == "s3a://bucket/k=1/f.csv"
    assert metadata_path("hdfs://nn:8020/t/f.csv") == "hdfs://nn:8020/t/f.csv"


def test_a_key_that_misses_fails_the_query(spark, tmp_path, monkeypatch):
    """Keyed in the ``inputFiles()`` form, no row finds its file: the action
    raises instead of binding NULL."""
    _months(tmp_path / "t")
    monkeypatch.setattr(readers, "metadata_path", lambda url: url)
    df = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, column_parser=FixedColumnsParser.from_str("year/month/fname"), spark=spark
    )
    with pytest.raises(SparkRuntimeException, match="no partition binding for scanned file"):
        df.select("month").collect()
