"""What a near-duplicate pair call leaves in the session, and what the next
call over the same table sees.

A table here is a directory whose files can change between calls: another
writer adds a file, or ``compact`` rewrites the tree. A signature table the
call caches in the session's CacheManager is matched by a later call over
the same root, so that call reads the old rows (or files ``compact`` has
deleted). The MinHash and SimHash pair operators keep their signatures in a
local checkpoint instead, which leaves no CacheManager entry.

The plan tests check that a within-corpus verify builds one broadcast of
the shingle sets and reuses it for the second side."""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import fsql_spark as fq
from fsql_spark import api, maintenance
from fsql_spark.operators import dedup

LANGS = ("de", "en")


def _corpus(n: int = 48, seed: int = 5) -> list[tuple[int, str, str]]:
    """``(doc_id, text, lang)`` rows: ``n`` random 30-word documents and,
    for the first three, an exact copy (ids ``1000 + i``), so every call
    finds the three exact pairs whatever its banding draws."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(400)]
    docs = [
        (i, " ".join(rng.choice(vocab, 30)), LANGS[i % 2]) for i in range(n)
    ]
    docs += [(1000 + i, docs[i][1], docs[i][2]) for i in range(3)]
    return docs


def _write_file(path, rows) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }
        ),
        path,
    )


def _write_tree(root, rows, name: str) -> None:
    """One parquet file per language under ``root/lang=<code>/``, written
    without Spark, as an outside writer would."""
    for lang in LANGS:
        d = root / f"lang={lang}"
        d.mkdir(parents=True, exist_ok=True)
        _write_file(d / f"{name}.parquet", [r for r in rows if r[2] == lang])


def _read(spark, root):
    return api.read_partitioned_table(str(root), fq.Q_TRUE, spark=spark)


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_pairs_see_an_outside_writers_copy(spark, tmp_path):
    """A file another writer adds between two calls takes part in the
    second: the exact copy of doc 7 pairs with it."""
    root = tmp_path / "docs"
    rows = _corpus()
    _write_tree(root, rows, "part-0")
    first = _pairs(dedup.minhash_lsh_pairs(_read(spark, root), "doc_id", "text", threshold=0.8))
    assert {(0, 1000), (1, 1001), (2, 1002)} <= first

    doc = rows[7]
    _write_file(root / f"lang={doc[2]}" / "part-1.parquet", [(2000, doc[1], doc[2])])
    second = _pairs(dedup.minhash_lsh_pairs(_read(spark, root), "doc_id", "text", threshold=0.8))
    assert second == first | {(7, 2000)}


def test_minhash_pairs_after_compact_in_one_session(spark, tmp_path):
    """append → compact → pairs, twice over one root in one session: the
    second pass reads the files the second ``compact`` wrote, not the ones
    the first pass read (which that ``compact`` deleted)."""
    root = tmp_path / "docs"
    rows = _corpus()
    half = len(rows) // 2
    got = []
    for batch in (rows[:half], rows[half:]):
        for i in range(0, len(batch), 9):
            df = spark.createDataFrame(batch[i : i + 9], "doc_id long, text string, lang string")
            api.write_table(df.coalesce(1), str(root), mode="append", partition_by=["lang"])
        maintenance.compact(spark, str(root), partition_by=["lang"])
        got.append(
            _pairs(dedup.minhash_lsh_pairs(_read(spark, root), "doc_id", "text", threshold=0.8))
        )
    # the first half holds docs 0..24 but none of the copies 1000..1002
    assert not got[0] & {(0, 1000), (1, 1001), (2, 1002)}
    assert {(0, 1000), (1, 1001), (2, 1002)} <= got[1]


def test_minhash_pairs_leave_no_cached_table(spark, tmp_path):
    root = tmp_path / "docs"
    _write_tree(root, _corpus(), "part-0")
    spark.catalog.clearCache()
    dedup.minhash_lsh_pairs(_read(spark, root), "doc_id", "text", threshold=0.8).collect()
    assert _cache_is_empty(spark)


def test_simhash_pairs_see_an_outside_writers_copy(spark, tmp_path):
    """The SimHash twin of the outside-writer test: its signatures are
    checkpointed as the MinHash ones are, so the added copy pairs too."""
    root = tmp_path / "docs"
    rows = _corpus()
    _write_tree(root, rows, "part-0")
    spark.catalog.clearCache()
    first = _pairs(dedup.simhash_pairs(_read(spark, root), "doc_id", "text", max_hamming=3))
    assert {(0, 1000), (1, 1001), (2, 1002)} <= first
    assert _cache_is_empty(spark)

    doc = rows[7]
    _write_file(root / f"lang={doc[2]}" / "part-1.parquet", [(2000, doc[1], doc[2])])
    second = _pairs(dedup.simhash_pairs(_read(spark, root), "doc_id", "text", max_hamming=3))
    assert second == first | {(7, 2000)}


def _plan_nodes(p):
    """Every node of an executed plan, through adaptive plans and query
    stages (leaves of the tree ``children()`` walks)."""
    yield p
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(p.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _plan_nodes(p.plan())
    children = p.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


@pytest.mark.parametrize(
    "op",
    [
        lambda df: dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.8),
        lambda df: dedup.jaccard_pairs(df, "doc_id", "text", 0.8, ngram=3, max_shingle_df=20),
        lambda df: dedup.prefix_filter_pairs(df, "doc_id", "text", 0.8, ngram=3),
    ],
    ids=["minhash_lsh_pairs", "jaccard_pairs", "prefix_filter_pairs"],
)
def test_within_corpus_verify_broadcasts_shingles_once(spark, tmp_path, op):
    """The verify's two joins read one broadcast of ``(k, sh)``: the
    executed plan holds one ``BroadcastExchange`` carrying ``sh`` and one
    ``ReusedExchange`` of it, and no cached relation."""
    root = tmp_path / "docs"
    _write_tree(root, _corpus(), "part-0")
    out = op(_read(spark, root))
    rows = out.collect()  # the plan read below is the one this ran
    assert {(0, 1000), (1, 1001), (2, 1002)} <= {(r["doc_a"], r["doc_b"]) for r in rows}
    nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
    carries_sh = re.compile(r"\bsh\d*#")

    def carrying_sh(name):
        return [
            n for n in nodes
            if n.nodeName() == name and carries_sh.search(n.output().toString())
        ]

    assert len(carrying_sh("BroadcastExchange")) == 1
    assert len(carrying_sh("ReusedExchange")) == 1
    assert not [n for n in nodes if n.nodeName().startswith("InMemory")]
