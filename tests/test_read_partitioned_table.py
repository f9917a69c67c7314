"""Golden tests mirroring the reference's example-usage and fsql suites
(`/root/reference/tests/test_example_usage.py`, `tests/test_fsql.py`).
Fixture inventory: FIXTURES.md §A."""

from __future__ import annotations

import pandas as pd
import pytest

from fsql_spark import (
    AUTO_PARSER,
    AtomicQuery,
    ColumnParser,
    FixedColumnsParser,
    PandasReader,
    Q_AND,
    Q_EQ,
    Q_IN,
    Q_OR,
    Q_TRUE,
    read_partitioned_table,
)
from fsql_spark.column_parser import AutoParser, PartitionGrammar

from .conftest import assert_same


def write_csv(tmp_path, rel, frame):
    target = tmp_path / rel
    target.parent.mkdir(parents=True, exist_ok=True)
    frame.to_csv(target, index=False)


def write_jsonl(tmp_path, rel, frame):
    target = tmp_path / rel
    target.parent.mkdir(parents=True, exist_ok=True)
    frame.to_json(target, orient="records", lines=True)


def test_flat_single(spark, tmp_path, df1):
    """Bare read, no partition columns (`test_example_usage.py:15-27`)."""
    write_csv(tmp_path, "table1/f1.csv", df1)
    out = read_partitioned_table(str(tmp_path / "table1"), Q_TRUE, spark=spark)
    assert_same(out, df1)


def test_hive_two_level_strings(spark, tmp_path, df1):
    """Hive-style parsing; partition values stay strings ("42" not 42)
    (`test_example_usage.py:29-39`)."""
    write_csv(tmp_path, "table2/c3=42/c4=test/f1.csv", df1)
    out = read_partitioned_table(str(tmp_path / "table2"), Q_TRUE, spark=spark)
    expected = df1.assign(c3="42", c4="test")
    assert_same(out, expected)
    pdf = out.toPandas()
    assert pdf["c3"].iloc[0] == "42" and isinstance(pdf["c3"].iloc[0], str)


def test_valueonly_two_level_filename_column(spark, tmp_path, df1):
    """FixedColumns positional naming incl. filename column
    (`test_example_usage.py:41-53`)."""
    write_csv(tmp_path, "table3/42/test/f1.csv", df1)
    parser = FixedColumnsParser.from_str("a1/a2/fname")
    out = read_partitioned_table(str(tmp_path / "table3"), Q_TRUE, column_parser=parser, spark=spark)
    expected = df1.assign(a1="42", a2="test", fname="f1.csv")
    assert_same(out, expected)


def test_partition_spec_grammar_and_atomic(spark, tmp_path, df1, df2, df3):
    """Hive three-level + from_str grammar + AtomicQuery AND Q_EQ
    (`test_example_usage.py:60-111`)."""
    write_jsonl(tmp_path, "t/col1=4/col2=5/colX=a/f1.json", df1)
    write_jsonl(tmp_path, "t/col1=4/col2=6/colX=b/f2.json", df2)
    write_jsonl(tmp_path, "t/col1=9/col2=6/colX=b/f3.json", df3)

    parser = AutoParser.from_str("col1=4/col2=[5,6]/colX")
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, column_parser=parser, spark=spark)
    expected = pd.concat(
        [df1.assign(col1="4", col2="5", colX="a"), df2.assign(col1="4", col2="6", colX="b")]
    )
    assert_same(out, expected)

    # black-box predicate over one partition column, AND-composed
    atomic = AtomicQuery(lambda col2: int(col2) % 2 == 0)
    out2 = read_partitioned_table(
        str(tmp_path / "t"), Q_AND(atomic, Q_EQ("col1", "4")), spark=spark
    )
    assert_same(out2, df2.assign(col1="4", col2="6", colX="b"))


def test_or_and_combination(spark, tmp_path):
    """Canonical reference query (`test_fsql.py:51-73`): OR(AND(EQ, atomic<=2), EQ)."""
    for k1 in ["1", "2", "3"]:
        for k2 in ["1", "2", "3", "4"]:
            write_jsonl(
                tmp_path,
                f"table1/partK1={k1}/partK2={k2}/d.json",
                pd.DataFrame({"val": [int(k1) * 10 + int(k2)]}),
            )
    query = Q_OR(
        Q_AND(Q_EQ("partK1", "1"), AtomicQuery(lambda partK2: int(partK2) <= 2)),
        Q_EQ("partK2", "4"),
    )
    out = read_partitioned_table(str(tmp_path / "table1"), query, spark=spark)
    vals = sorted(out.toPandas()["val"].tolist())
    assert vals == [11, 12, 14, 24, 34]


def test_q_in(spark, tmp_path):
    """Q_IN membership + OR of Q_INs (`test_queries.py:22-43`)."""
    for part in ["0", "1", "2"]:
        write_csv(
            tmp_path,
            f"t/part={part}/f.csv",
            pd.DataFrame({"c0": [f"part{part}_c0_r0", f"part{part}_c0_r1"]}),
        )
    out = read_partitioned_table(str(tmp_path / "t"), Q_IN("part", ["0", "2"]), spark=spark)
    assert sorted(out.toPandas()["part"].unique()) == ["0", "2"]
    both = Q_OR(Q_IN("part", ["0"]), Q_IN("part", ["1"]))
    out2 = read_partitioned_table(str(tmp_path / "t"), both, spark=spark)
    assert sorted(out2.toPandas()["part"].unique()) == ["0", "1"]


def test_generation_vs_listing(spark, tmp_path, df1, df2, df3):
    """Parser generate() must skip listing yet match the listed result
    (`test_fsql.py:108-125`)."""
    write_jsonl(tmp_path, "t3/read_me/yes/f1.json", df1)
    write_jsonl(tmp_path, "t3/read_me/indeed/f2.json", df2)
    write_jsonl(tmp_path, "t3/ignore_me/for_real/f3.json", df3)

    listed = FixedColumnsParser(
        [PartitionGrammar("c1"), PartitionGrammar("c2"), PartitionGrammar("fname")]
    )
    generated = FixedColumnsParser(
        [
            PartitionGrammar("c1", ("read_me",)),
            PartitionGrammar("c2", ("yes", "indeed")),
            PartitionGrammar("fname"),
        ]
    )
    out_listed = read_partitioned_table(
        str(tmp_path / "t3"), Q_EQ("c1", "read_me"), column_parser=listed, spark=spark
    )
    out_generated = read_partitioned_table(
        str(tmp_path / "t3"), Q_TRUE, column_parser=generated, spark=spark
    )
    assert_same(out_listed, out_generated.toPandas())
    expected = pd.concat(
        [df1.assign(c1="read_me", c2="yes", fname="f1.json"),
         df2.assign(c1="read_me", c2="indeed", fname="f2.json")]
    )
    assert_same(out_generated, expected)


def test_duplicate_key_error(spark, tmp_path, df1):
    """Duplicate partition key along a path -> ValueError
    (`test_fsql.py:149-155`, `partition.py:17-19`)."""
    target = tmp_path / "t/c1=4/c1=3"
    target.mkdir(parents=True)
    df1.to_parquet(target / "f1.parquet")
    with pytest.raises(ValueError, match="duplicate key"):
        # AtomicQuery forces the driver-discovery path, where the reference's
        # crawl semantics (and its error contract) apply
        read_partitioned_table(
            str(tmp_path / "t"),
            AtomicQuery(lambda c1: True),
            spark=spark,
        )


def test_parser_exhaustion_error(spark, tmp_path, df1):
    """FixedColumns spec shallower than the tree -> error (`test_fsql.py:158-165`)."""
    target = tmp_path / "t/v1/v2"
    target.mkdir(parents=True)
    df1.to_parquet(target / "f1.parquet")
    parser = FixedColumnsParser.from_str("c1/fname")
    with pytest.raises(ValueError, match="no partitions remaining"):
        read_partitioned_table(str(tmp_path / "t"), Q_TRUE, column_parser=parser, spark=spark)


def test_empty_result_is_empty_df(spark, tmp_path, df1):
    """DEVIATION from the reference's concat crash
    (`test_lex_range_query.py:113-114`): empty match -> empty DataFrame."""
    write_csv(tmp_path, "t/c1=a/f.csv", df1)
    out = read_partitioned_table(str(tmp_path / "t"), Q_EQ("c1", "nope"), spark=spark)
    assert out.count() == 0


def test_query_on_missing_column_filters_all(spark, tmp_path, df1):
    """eval_all semantics: referencing a column the table lacks -> False
    (`query.py:55-58`); OR with a real column still works."""
    write_csv(tmp_path, "t/c1=a/f.csv", df1)
    none = read_partitioned_table(str(tmp_path / "t"), Q_EQ("ghost", "x"), spark=spark)
    assert none.count() == 0
    some = read_partitioned_table(
        str(tmp_path / "t"), Q_OR(Q_EQ("ghost", "x"), Q_EQ("c1", "a")), spark=spark
    )
    assert some.count() == len(df1)


def test_pandas_reader_parity(spark, tmp_path, df1, df2):
    """PANDAS_READER returns a pandas frame with string partition cols."""
    write_csv(tmp_path, "t/k=1/f1.csv", df1)
    write_csv(tmp_path, "t/k=2/f2.csv", df2)
    out = read_partitioned_table(
        str(tmp_path / "t"), Q_TRUE, data_reader=PandasReader(), spark=spark
    )
    assert isinstance(out, pd.DataFrame)
    expected = pd.concat([df1.assign(k="1"), df2.assign(k="2")])
    assert_same(out, expected)


def test_mixed_depth_quirk(spark, tmp_path, df1, df2):
    """Bare AutoParser reads files at EVERY level; differing column sets are
    NaN-padded (reference quirk, `column_parser.py:106-110`)."""
    write_csv(tmp_path, "t/top.csv", df1)
    write_csv(tmp_path, "t/k=1/f.csv", df2)
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    pdf = out.toPandas()
    assert len(pdf) == 4
    assert set(pdf.columns) == {"c1", "c2", "k"}
    assert pdf["k"].isna().sum() == 2


def test_mixed_depth_conflicting_keys_returns_union(spark, tmp_path, df1, df2):
    """Leaves binding different key sets (``a=1/`` vs ``a=2/b=3/``) pass the
    first-leaf probe, then Spark's load() raises
    CONFLICTING_PARTITION_COLUMN_NAMES: the read falls back to driver
    discovery and returns the union, with NULL ``b`` for the shallow leaf."""
    write_csv(tmp_path, "t/a=1/f.csv", df1)
    write_csv(tmp_path, "t/a=2/b=3/f.csv", df2)
    out = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    assert dict(out.dtypes)["a"] == dict(out.dtypes)["b"] == "string"
    expected = pd.concat([df1.assign(a="1", b=None), df2.assign(a="2", b="3")])
    assert_same(out, expected, by=["c1"])


def test_fast_path_load_error_propagates(spark, tmp_path, df1, monkeypatch):
    """Only the "not one Hive layout" conditions fall back. Any other load()
    error, here the table vanishing between the probe and the scan, raises
    instead of silently taking driver discovery."""
    import shutil

    from pyspark.errors import AnalysisException

    import fsql_spark.api as api

    write_csv(tmp_path, "t/k=1/f.csv", df1)
    probe = api._probe_first_leaf

    def probe_then_vanish(fs, root):
        found = probe(fs, root)
        shutil.rmtree(tmp_path / "t")
        return found

    def no_discovery(*args, **kwargs):
        raise AssertionError("fell back to driver discovery")

    monkeypatch.setattr(api, "_probe_first_leaf", probe_then_vanish)
    monkeypatch.setattr(api, "discover_partitions", no_discovery)
    with pytest.raises(AnalysisException) as err:
        read_partitioned_table(str(tmp_path / "t"), Q_EQ("k", "1"), spark=spark)
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_valueonly_named_with_atomic_filter(spark, tmp_path, df1, df2, df3):
    """FixedColumns + AtomicQuery on the first positional column; filename
    column present in output (`test_fsql.py:85-105`)."""
    write_jsonl(tmp_path, "t2/read_me/sub1/a.json", df1)
    write_jsonl(tmp_path, "t2/read_me/sub2/b.json", df2)
    write_jsonl(tmp_path, "t2/ignore_me/sub3/c.json", df3)
    parser = FixedColumnsParser.from_str("c1/c2/fname")
    out = read_partitioned_table(
        str(tmp_path / "t2"),
        AtomicQuery(lambda c1: not c1.startswith("ignore")),
        column_parser=parser,
        spark=spark,
    )
    pdf = out.toPandas()
    assert sorted(pdf["fname"].unique()) == ["a.json", "b.json"]
    assert set(pdf["c1"]) == {"read_me"}
    expected = pd.concat(
        [df1.assign(c1="read_me", c2="sub1", fname="a.json"),
         df2.assign(c1="read_me", c2="sub2", fname="b.json")]
    )
    assert_same(out, expected)


def test_spark_reader_is_lazy(spark, tmp_path, df1):
    """The default reader defers I/O to action time (the Dask-model parity,
    SURVEY §1.3): corrupting the file AFTER building the DataFrame but
    BEFORE the action fails at the action - proof no eager read happened."""
    write_csv(tmp_path, "t/k=1/f1.csv", df1)
    df = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    # plan construction done; now break the file
    (tmp_path / "t/k=1/f1.csv").write_text("c1,c2\n9,late-edit\n")
    got = df.toPandas()  # action reads NOW and sees the edited content
    assert got["c2"].tolist() == ["late-edit"]
