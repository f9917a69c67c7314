"""Driver discovery's prefix load: a Hive-shaped survivor set is handed to
Spark as directories under ``basePath`` plus an exact filter on the
partition columns, not as one path per file.

The property test pins the answer to the path join's map-literal lookup
(``SparkReader.read`` over the same discovered partitions): same rows,
same column order, same dtypes, with both the leaf-prefix and the
ancestor-prefix branch taken. The other tests pin that planning starts no
listing job, the typed empty result on Hive trees, and each case that keeps
the path join."""

from __future__ import annotations

import datetime
import os
import random
import time
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fsql_spark import AtomicQuery, read_partitioned_table, write_table
from fsql_spark.column_parser import AUTO_PARSER, AutoParser, DateRangeGenerator, FixedColumnsParser
from fsql_spark.discovery import Partition, discover_partitions
from fsql_spark.formats import InputFormat
from fsql_spark.fs import LocalFileSystem
from fsql_spark.queries import DateRangeQuery, Q_EQ, Q_TRUE
from fsql_spark.readers import SparkReader

SEED = 23
KEYS = ["year", "month", "day"]
SERIAL_LIMIT = 32  # Spark's default parallelPartitionDiscovery.threshold
# Spark writes " " and "ü" as they are and escapes "=" as %3D, which every
# read decodes back to "a=b"
AWKWARD = {"year": ["x y"], "month": ["ü"], "day": ["a=b", "s p"]}


def _rows(df):
    return sorted(tuple("\0" if v is None else v for v in r) for r in df.collect())


def _date_leaves(rng):
    """Year/month/day bindings of a random run of dates, so date-range
    reads keep more and fewer leaves than the serial-listing threshold."""
    start = datetime.date(2021, 11, 1) + datetime.timedelta(days=rng.randint(0, 60))
    days = [start + datetime.timedelta(days=i) for i in range(rng.randint(50, 80)) if rng.random() < 0.9]
    return [(str(d.year), str(d.month), str(d.day)) for d in days]


def _spark_tree(spark, rng, root):
    """A Spark-written year/month/day tree of dated leaves plus leaves with
    awkward values, two rows per leaf."""
    leaves = _date_leaves(rng)
    for _ in range(6):
        leaf = [rng.choice(AWKWARD[k] + [v]) for k, v in zip(KEYS, rng.choice(leaves))]
        leaves.append(tuple(leaf))
    rows = [(f"r{i}-{j}", i, *leaf) for i, leaf in enumerate(leaves) for j in range(2)]
    df = spark.createDataFrame(rows, "payload string, x long, year string, month string, day string")
    write_table(df.coalesce(1), str(root), partition_by=KEYS)
    # the bindings as Spark decodes them ("a%3Db" binds "a=b")
    parts = discover_partitions(Q_TRUE, AUTO_PARSER, Partition(f"{root}/", {}), LocalFileSystem())
    return sorted({tuple(p.columns.values()) for p in parts})


def _shadow_tree(rng, root):
    """A hand-written tree whose files carry a ``month`` data column (first,
    so Spark's own order would differ from the path join's) and one value
    with a raw "=", which Spark does not escape on read."""
    leaves = _date_leaves(rng) + [("2021", "a=b", "1")]
    for i, (y, m, d) in enumerate(leaves):
        target = root / f"year={y}" / f"month={m}" / f"day={d}"
        target.mkdir(parents=True, exist_ok=True)
        frame = pd.DataFrame({"month": ["from-data"], "payload": [f"s{i}"], "x": [i]})
        frame.to_parquet(target / "part-0.parquet")
    return sorted(set(leaves))


def _atomic(rng, leaves):
    """A black-box predicate keeping a random share of the tree's leaves."""
    kept = set(rng.sample(leaves, rng.randint(1, len(leaves))))
    return AtomicQuery(lambda year, month, day: (year, month, day) in kept), AUTO_PARSER


def _date_read(rng, leaves):
    """A generated date-range read starting at one of the tree's dates."""
    dated = [leaf for leaf in leaves if all(v.isdigit() for v in leaf)]
    start = datetime.date(*map(int, rng.choice(dated)))
    end = start + datetime.timedelta(days=rng.choice([3, 20, 45, 90]))
    return DateRangeQuery(start, end), DateRangeGenerator.build(start, end)


def _declared(rng, leaves):
    """A from_str grammar declaring the year and month of one of the tree's
    leaves plus a random share of the others; the day level is listed."""
    year, month, _ = rng.choice(leaves)

    def some(value, values):
        others = sorted(set(values) - {value})
        return ",".join([value, *rng.sample(others, rng.randint(0, len(others)))])

    spec = f"year=[{some(year, [l[0] for l in leaves])}]/month=[{some(month, [l[1] for l in leaves])}]/day"
    return Q_TRUE, AutoParser.from_str(spec)


def test_prefix_load_equals_path_join(spark, tmp_path, join_calls):
    rng = random.Random(SEED)
    fs = LocalFileSystem()
    branches = {"leaves": 0, "ancestors": 0}
    for root in (tmp_path / "spark0", tmp_path / "spark1", tmp_path / "shadow"):
        leaves = _shadow_tree(rng, root) if root.name == "shadow" else _spark_tree(spark, rng, root)
        for make in [_atomic] * 5 + [_date_read] * 3 + [_declared] * 2:
            query, parser = make(rng, leaves)
            parts = list(discover_partitions(query, parser, Partition(f"{root}/", {}), fs))
            want = SparkReader().read(spark, parts, fs, InputFormat.AUTO)
            before = len(join_calls)
            got = read_partitioned_table(str(root), query, column_parser=parser, spark=spark)
            if len(join_calls) == before:  # the prefix load
                kept = len({tuple(p.columns.values()) for p in parts})
                branches["leaves" if kept <= SERIAL_LIMIT else "ancestors"] += 1
            where = f"{root.name}: {query}"
            assert want.columns and got.columns == want.columns, where
            assert got.dtypes == want.dtypes, where
            assert _rows(got) == _rows(want), where
    assert min(branches.values()) > 0, branches


@pytest.mark.parametrize("data_value", ["from-data", 7], ids=["string", "int64"])
def test_shadowed_key_binds_from_the_path(spark, tmp_path, join_calls, data_value):
    """A data column named like a key gives way to the path binding and
    moves to the key's place, as in the path join; a numeric one does not
    type the key."""
    for i in range(40):
        target = tmp_path / "t" / f"k={i}"
        target.mkdir(parents=True)
        pd.DataFrame({"k": [data_value], "x": [i]}).to_parquet(target / "f.parquet")
    out = read_partitioned_table(str(tmp_path / "t"), AtomicQuery(lambda k: k != "3"), spark=spark)
    assert join_calls == []
    assert out.dtypes == [("x", "bigint"), ("k", "string")]
    assert sorted((r.x, r.k) for r in out.collect()) == [(i, str(i)) for i in range(40) if i != 3]


def _jobs_during(spark, fn):
    """(fn(), the number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    group, marker = f"read-{uuid.uuid4()}", f"marker-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed asynchronously but in order: once a later
    # job shows, every job the read started shows too
    sc.setJobGroup(marker, marker)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker), "status tracker never saw the marker job"
    return out, len(tracker.getJobIdsForGroup(group))


def _forty_days(root):
    """year=2021/month=1|2/day=1..20: 40 leaf directories, above the
    serial-listing threshold; ``x`` is 100 * month + day."""
    for m in (1, 2):
        for d in range(1, 21):
            target = root / "year=2021" / f"month={m}" / f"day={d}"
            target.mkdir(parents=True)
            pd.DataFrame({"x": [100 * m + d]}).to_parquet(target / "f.parquet")


def _fixed_months(root):
    """Value-only 2021/1|2/a|b.parquet, read through the path join."""
    for m in (1, 2):
        for i, name in enumerate("ab"):
            target = root / "2021" / str(m)
            target.mkdir(parents=True, exist_ok=True)
            pd.DataFrame({"x": [100 * m + i]}).to_parquet(target / f"{name}.parquet")


@pytest.mark.parametrize(
    "build, query, parser, reader, want, joins",
    [
        (_forty_days, AtomicQuery(lambda year, month, day: day != "20"), AUTO_PARSER,
         SparkReader(schema=StructType([StructField("x", LongType())])),
         [100 * m + d for m in (1, 2) for d in range(1, 20)], False),
        (_forty_days, AtomicQuery(lambda year, month, day: day != "20"), AUTO_PARSER, SparkReader(),
         [100 * m + d for m in (1, 2) for d in range(1, 20)], False),
        (_forty_days, Q_EQ("month", "1"), AUTO_PARSER, None, list(range(101, 121)), False),
        (_forty_days, DateRangeQuery("2021/01/15", "2021/02/03"),
         DateRangeGenerator.build("2021/01/15", "2021/02/03"), None, [*range(115, 121), 201, 202], False),
        (_fixed_months, AtomicQuery(lambda year, month, fname: fname == "b.parquet"),
         FixedColumnsParser.from_str("year/month/fname"), None, [101, 201], True),
        (_forty_days, AtomicQuery(lambda year, month, day: year == "1999"), AUTO_PARSER, None, [], False),
    ],
    ids=["atomic with schema", "atomic", "Q_EQ", "date generator", "fixed columns", "all pruned"],
)
def test_driver_discovery_plans_without_a_listing_job(spark, tmp_path, join_calls, build, query, parser, reader, want, joins):
    """Planning a read starts no Spark job. Driver discovery lists on the
    driver: an AtomicQuery keeping 38 leaf directories used to hand Spark
    38 file paths, above the serial-listing threshold, so planning ran a
    listing job. A parquet read takes its data columns from one file's
    footer: Spark's own inference would run a one-task job."""
    build(tmp_path / "t")
    out, jobs = _jobs_during(
        spark,
        lambda: read_partitioned_table(
            str(tmp_path / "t"), query, column_parser=parser, data_reader=reader, spark=spark
        ),
    )
    assert jobs == 0
    assert bool(join_calls) == joins
    assert out.dtypes[0] == ("x", "bigint")
    assert sorted(r.x for r in out.collect()) == want


def test_all_pruned_driver_read_keeps_the_table_dtypes(spark, tmp_path):
    """When discovery keeps nothing on a Hive tree, the result is the fast
    path's typed empty one; a value-only tree keeps the schema-less one."""
    for y, m in [("2021", "1"), ("2022", "5")]:
        target = tmp_path / "hive" / f"year={y}" / f"month={m}"
        target.mkdir(parents=True)
        pd.DataFrame({"x": [1], "s": ["a"]}).to_parquet(target / "f.parquet")
    root = str(tmp_path / "hive")
    fast = read_partitioned_table(root, Q_EQ("year", "1999"), spark=spark)
    for query, parser in [
        (AtomicQuery(lambda year: year == "1999"), AUTO_PARSER),
        (DateRangeQuery("1999/01/01", "1999/02/01"), DateRangeGenerator.build("1999/01/01", "1999/02/01")),
    ]:
        driver = read_partitioned_table(root, query, column_parser=parser, spark=spark)
        assert driver.dtypes == fast.dtypes == [("x", "bigint"), ("s", "string"), ("year", "string"), ("month", "string")]
        assert driver.agg(F.count(F.lit(1))).collect()[0][0] == 0

    target = tmp_path / "values" / "2021" / "1"
    target.mkdir(parents=True)
    pd.DataFrame({"x": [1]}).to_parquet(target / "f.parquet")
    empty = read_partitioned_table(
        str(tmp_path / "values"),
        AtomicQuery(lambda year: year == "1999"),
        column_parser=FixedColumnsParser.from_str("year/month/fname"),
        spark=spark,
    )
    assert empty.columns == [] and empty.count() == 0


def _csv(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _hive_tree(root):
    for k in ("1", "2"):
        _csv(root, f"k={k}/f.csv", f"x\n{k}\n")


def _percent_tree(root):
    _csv(root, "k=1/f.csv", "x\n1\n")
    _csv(root, "k=a%b/f.csv", "x\n2\n")


def _glob_tree(root):
    # loaded unescaped, Hadoop would glob "[x]" to the directory "k=x"
    _csv(root, "k=[x]/f.csv", "x\n1\n")
    _csv(root, "k=x/f.csv", "x\n2\n")


def _empty_value_tree(root):
    # Spark's analysis fails on a "k=" directory; the path join binds ""
    _csv(root, "k=/f.csv", "x\n1\n")
    _csv(root, "k=1/f.csv", "x\n2\n")


def _value_only_tree(root):
    _csv(root, "2022/1/1/f.csv", "x\n1\n")
    _csv(root, "2022/1/2/f.csv", "x\n2\n")


def _mixed_depth_tree(root):
    _csv(root, "top.csv", "x\n1\n")
    _csv(root, "k=1/f.csv", "x\n2\n")


def _mixed_format_tree(root):
    _csv(root, "k=1/f.csv", "x\n1\n")
    _csv(root, "k=2/f.json", '{"x": 2}\n')


@pytest.mark.parametrize(
    "case, build, query, parser, reader, inference",
    [
        ("hive", _hive_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "false"),
        ("percent value", _percent_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "false"),
        ("glob value", _glob_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "false"),
        ("empty value", _empty_value_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "false"),
        ("value-only", _value_only_tree, AtomicQuery(lambda a: True),
         FixedColumnsParser.from_str("a/b/c/fname"), None, "false"),
        ("bare dates", _value_only_tree, DateRangeQuery("2022/01/01", "2022/01/03"),
         DateRangeGenerator.build("2022/01/01", "2022/01/03", include_column_in_path=False), None, "false"),
        ("mixed depth", _mixed_depth_tree, Q_TRUE, AUTO_PARSER, None, "false"),
        ("csv and json", _mixed_format_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "false"),
        ("lazy errors", _hive_tree, AtomicQuery(lambda k: True), AUTO_PARSER, SparkReader(lazy_errors=True), "false"),
        ("inference on", _hive_tree, AtomicQuery(lambda k: True), AUTO_PARSER, None, "true"),
    ],
)
def test_join_fallbacks(spark, tmp_path, join_calls, case, build, query, parser, reader, inference):
    """Every read that is not one clean Hive layout, plain SparkReader and
    inference off keeps the path join; the clean Hive reads do not, glob
    characters in a name included."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    root = str(tmp_path / "t")
    build(root)
    old = spark.conf.get(key)
    spark.conf.set(key, inference)
    try:
        out = read_partitioned_table(root, query, column_parser=parser, data_reader=reader, spark=spark)
    finally:
        spark.conf.set(key, old)
    df = out[0] if isinstance(out, tuple) else out
    assert sorted(str(r.x) for r in df.collect()) == ["1", "2"], case
    assert bool(join_calls) == (case not in ("hive", "percent value", "glob value")), case
