"""Execution-path equivalence: for Hive layouts, the Catalyst fast path
(spark.read + where) and the driver-discovery path (crawl + prune + explicit
file list) are two implementations of the same read semantics — randomized
trees x randomized queries must produce identical rows.

The slow path is forced by wrapping the query's eval_all in an AtomicQuery
(not Catalyst-expressible): since every referenced column is bound at or
above the leaf level, eval_all over bound columns is the final per-leaf
verdict on both paths."""

from __future__ import annotations

import random

import pandas as pd

from fsql_spark import AtomicQuery, read_partitioned_table
from fsql_spark.queries import (
    ColumnComparator,
    ColumnRange,
    DateRangeQuery,
    LexRangeQuery,
    Q_AND,
    Q_EQ,
    Q_IN,
    Q_OR,
)

SEED = 7


def build_tree(rng: random.Random, root) -> int:
    """Random 2-level hive tree with awkward values; returns file count."""
    n = 0
    v1_pool = ["1", "2", "10", "a", "b", "zz", "0"]
    v2_pool = ["x", "y", "3", "30", "q"]
    for v1 in rng.sample(v1_pool, k=rng.randint(2, 5)):
        for v2 in rng.sample(v2_pool, k=rng.randint(1, 4)):
            d = root / f"k1={v1}" / f"k2={v2}"
            d.mkdir(parents=True, exist_ok=True)
            pd.DataFrame({"payload": [f"{v1}-{v2}"]}).to_parquet(d / "f.parquet")
            n += 1
    return n


def random_query(rng: random.Random):
    def atom():
        kind = rng.choice(["eq1", "eq2", "in", "lex", "num"])
        if kind == "eq1":
            return Q_EQ("k1", rng.choice(["1", "a", "zz", "nope"]))
        if kind == "eq2":
            return Q_EQ("k2", rng.choice(["x", "3", "nope"]))
        if kind == "in":
            return Q_IN(rng.choice(["k1", "k2"]), rng.sample(["1", "2", "a", "x", "y", "30"], k=2))
        if kind == "num":
            lo, hi = sorted(rng.sample([0, 1, 2, 5, 10, 30], 2))
            return LexRangeQuery([ColumnRange(rng.choice(["k1", "k2"]), str(lo), str(hi), ColumnComparator.num)])
        lo, hi = sorted(rng.sample("abxyz", 2))
        return LexRangeQuery([ColumnRange(rng.choice(["k1", "k2"]), lo, hi)])

    q = atom()
    for _ in range(rng.randint(0, 2)):
        q = (Q_AND if rng.random() < 0.5 else Q_OR)(q, atom())
    return q


def test_fast_and_slow_paths_agree(spark, tmp_path):
    rng = random.Random(SEED)
    for case in range(6):
        root = tmp_path / f"case{case}"
        build_tree(rng, root)
        for qi in range(5):
            q = random_query(rng)
            fast = read_partitioned_table(str(root), q, spark=spark)
            slow_q = AtomicQuery(
                lambda __q=q, **cols: __q.eval_all(cols),
                columns=set(q.referenced_columns()) or {"k1"},
            )
            slow = read_partitioned_table(str(root), slow_q, spark=spark)
            got_fast = sorted(
                (r["payload"], r["k1"], r["k2"]) for r in fast.select("payload", "k1", "k2").collect()
            ) if "k1" in fast.columns else []
            got_slow = sorted(
                (r["payload"], r["k1"], r["k2"]) for r in slow.select("payload", "k1", "k2").collect()
            ) if "k1" in slow.columns else []
            assert got_fast == got_slow, f"case {case} query {qi}: {q} diverges"
            if got_fast:  # empty-result schemas still differ between the paths
                assert fast.dtypes == slow.dtypes, f"case {case} query {qi}: {q} schema diverges"


def test_daterange_paths_agree(spark, tmp_path):
    rng = random.Random(SEED + 1)
    root = tmp_path / "dates"
    for y in ["2021", "2022"]:
        for m in ["1", "2", "12"]:
            for d in ["1", "15", "28"]:
                p = root / f"year={y}" / f"month={m}" / f"day={d}"
                p.mkdir(parents=True)
                pd.DataFrame({"payload": [f"{y}-{m}-{d}"]}).to_parquet(p / "f.parquet")
    for _ in range(4):
        start = f"{rng.choice(['2021','2022'])}/{rng.randint(1,12):02d}/{rng.randint(1,28):02d}"
        end = f"{rng.choice(['2022','2023'])}/{rng.randint(1,12):02d}/{rng.randint(1,28):02d}"
        try:
            q = DateRangeQuery(start, end)
        except ValueError:
            continue
        fast = read_partitioned_table(str(root), q, spark=spark)
        slow = read_partitioned_table(
            str(root),
            AtomicQuery(lambda __q=q, **c: __q.eval_all(c), columns={"year", "month", "day"}),
            spark=spark,
        )
        # an all-pruned slow-path result is an empty, schema-less DataFrame
        # (documented: schema is unknowable without reading any file)
        a = sorted(r["payload"] for r in fast.collect()) if "payload" in fast.columns else []
        b = sorted(r["payload"] for r in slow.collect()) if "payload" in slow.columns else []
        assert a == b, f"{start}..{end}: fast {a} != slow {b}"
        if a:
            assert fast.dtypes == slow.dtypes, f"{start}..{end}: schema diverges"
