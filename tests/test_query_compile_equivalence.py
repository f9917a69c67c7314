"""Property-based equivalence: the Python evaluator (driver-side pruning
oracle) and the Catalyst compilation (fast path) of every Query type must
agree on eval_all for arbitrary bindings — the two execution paths of the
same predicate language (queries.py).

Randomized cases are evaluated in ONE Spark job per suite (bindings ->
DataFrame, compiled predicates -> columns) to keep the property test fast."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from fsql_spark.queries import (
    ColumnComparator,
    ColumnRange,
    DateRangeQuery,
    LexRangeQuery,
    Q_AND,
    Q_EQ,
    Q_FALSE,
    Q_IN,
    Q_OR,
    Q_TRUE,
)

SEED = 42


def random_queries(rng: random.Random, columns: list[str]):
    """A zoo of expressible queries over the given column names."""
    values = [str(v) for v in range(6)] + ["a", "b", "zz"]

    def atom():
        kind = rng.choice(["eq", "in", "true", "false", "lex", "num"])
        c = rng.choice(columns)
        if kind == "eq":
            return Q_EQ(c, rng.choice(values))
        if kind == "in":
            return Q_IN(c, rng.sample(values, k=rng.randint(1, 4)))
        if kind == "true":
            return Q_TRUE
        if kind == "false":
            return Q_FALSE
        if kind == "num":
            lo, hi = sorted(rng.sample(range(10), 2))
            return LexRangeQuery([ColumnRange(c, str(lo), str(hi), ColumnComparator.num)])
        lo, hi = sorted(rng.sample("abcdef", 2))
        chain = [ColumnRange(c, lo, hi)]
        other = rng.choice(columns)
        if other != c and rng.random() < 0.5:
            kind2 = rng.choice([ColumnComparator.lex, ColumnComparator.wld])
            lo2, hi2 = sorted(rng.sample("abcdef", 2))
            chain.append(ColumnRange(other, lo2, hi2, kind2))
        return LexRangeQuery(chain)

    def tree(depth: int):
        if depth == 0 or rng.random() < 0.4:
            return atom()
        op = Q_AND if rng.random() < 0.5 else Q_OR
        return op(tree(depth - 1), tree(depth - 1))

    return [tree(rng.randint(0, 3)) for _ in range(40)]


def test_python_eval_matches_catalyst(spark):
    rng = random.Random(SEED)
    columns = ["c1", "c2", "c3"]
    # bindings drawn from the same value pool (numeric strings for num ranges)
    pool = [str(v) for v in range(10)] + list("abcdef") + ["zz"]
    bindings = [
        {c: rng.choice(pool) for c in columns}
        for _ in range(200)
    ]
    queries = random_queries(rng, columns)

    df = spark.createDataFrame([tuple(b[c] for c in columns) for b in bindings], columns)
    exprs = []
    expected_cols = []
    for i, q in enumerate(queries):
        # num-comparator ranges need int()-able values; constrain via eval
        exprs.append(q.to_column().alias(f"q{i}"))
        expected_cols.append([bool(_safe_eval(q, b)) for b in bindings])

    rows = df.select(*exprs).collect()
    for i, expected in enumerate(expected_cols):
        got = [bool(r[f"q{i}"]) for r in rows]
        if None in [r[f"q{i}"] for r in rows]:
            pytest.fail(f"query {i} produced NULL")
        assert got == expected, f"query {i}: {queries[i]} disagrees"


def _safe_eval(q, binding):
    try:
        return q.eval_all(binding)
    except ValueError:
        # num comparator on a non-numeric binding: Catalyst cast -> NULL ->
        # filtered as false; Python int() raises. Treat as False on both.
        return False


def test_num_comparator_on_nonnumeric_matches(spark):
    """Edge alignment (documented deviation from the reference's crash):
    a non-int()-able value under the num comparator matches NOTHING on both
    paths — try_cast=>NULL=>filtered in Catalyst, False in the evaluator."""
    q = LexRangeQuery([ColumnRange("c1", "1", "5", ColumnComparator.num)])
    df = spark.createDataFrame([("abc",), ("3",)], ["c1"])
    got = {r["c1"]: bool(r["v"]) for r in df.select("c1", q.to_column().alias("v")).collect()}
    assert got == {"abc": False, "3": True}
    assert q.eval_all({"c1": "abc"}) is False
    assert q.eval_all({"c1": "3"}) is True


def test_available_gating_matches_python(spark):
    """to_column(available=...) reproduces eval_all's missing-column => False
    semantics, including LexRange prefix truncation."""
    rng = random.Random(SEED + 1)
    queries = random_queries(rng, ["c1", "c2", "c3"])
    pool = [str(v) for v in range(10)] + list("abcdef")
    bindings = [{c: rng.choice(pool) for c in ["c1", "c2"]} for _ in range(100)]

    df = spark.createDataFrame([(b["c1"], b["c2"]) for b in bindings], ["c1", "c2"])
    available = frozenset({"c1", "c2"})
    exprs, expected_cols = [], []
    for i, q in enumerate(queries):
        exprs.append(q.to_column(available).alias(f"q{i}"))
        expected_cols.append([bool(_safe_eval(q, b)) for b in bindings])
    rows = df.select(*exprs).collect()
    for i, expected in enumerate(expected_cols):
        got = [bool(r[f"q{i}"]) for r in rows]
        assert got == expected, f"query {i}: {queries[i]} gating disagrees"


def test_null_binding_is_a_false_atom(spark):
    """A Hive NULL binds as None on the driver: an atom over it is False,
    as its Column is over NULL, so eval_all agrees with to_column and
    eval_available rules the row out. No evaluator raises on None."""
    rng = random.Random(SEED + 2)
    columns = ["c1", "c2", "c3"]
    pool = [str(v) for v in range(10)] + list("abcdef") + ["zz"]
    bindings = [{c: rng.choice(pool) for c in columns} for _ in range(120)]
    for i, b in enumerate(bindings):
        b[columns[i % 3]] = None
    queries = random_queries(rng, columns)
    dates = [{"c1": str(rng.choice([2021, 2022])), "c2": str(rng.randint(1, 12)), "c3": str(rng.randint(1, 28))}
             for _ in range(60)]
    for i, b in enumerate(dates):
        b[columns[i % 3]] = None
    date_queries = [DateRangeQuery("2021/03/01", "2022/10/01", "c1", "c2", "c3"),
                    DateRangeQuery("2022/01/01", "2022/01/15", "c1", "c2", "c3")]

    schema = "c1 string, c2 string, c3 string"
    for rows, zoo in [(bindings, queries), (dates, date_queries)]:
        df = spark.createDataFrame([tuple(b[c] for c in columns) for b in rows], schema)
        got = df.select(*[q.to_column().alias(f"q{i}") for i, q in enumerate(zoo)]).collect()
        for i, q in enumerate(zoo):
            for b, r in zip(rows, got):
                want = bool(r[f"q{i}"])
                assert q.eval_all(b) == want, (i, b)
                assert want or not q.eval_available(b), (i, b)
                q.eval_available(dict(list(b.items())[:2]))  # a partial binding holding None


def test_daterange_compile_matches_eval(spark):
    q = DateRangeQuery("2022/04/30", "2022/05/02")
    cases = [
        {"year": "2022", "month": "4", "day": "29"},
        {"year": "2022", "month": "4", "day": "30"},
        {"year": "2022", "month": "5", "day": "1"},
        {"year": "2022", "month": "5", "day": "2"},
        {"year": "2021", "month": "12", "day": "31"},
    ]
    df = spark.createDataFrame([(c["year"], c["month"], c["day"]) for c in cases], ["year", "month", "day"])
    got = [bool(r["v"]) for r in df.select(q.to_column().alias("v")).collect()]
    assert got == [q.eval_all(c) for c in cases]
