"""The iterative graph operators write no session conf.

Several clients may share one SparkSession, so a loop's narrow shuffle
width lives in its own plan (its re-read input is repartitioned to
``clustering.LOOP_WIDTH`` before it is cached), never in
``spark.sql.shuffle.partitions``. Each test runs with ``RuntimeConfig.set``
and ``RuntimeConfig.unset`` patched to raise, as in
``tests/test_fs_contract.py::test_library_sets_no_session_conf``, and checks
the answer too."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

import __spark_entry__ as entry
from fsql_spark.operators.clustering import LOOP_WIDTH, connected_components
from fsql_spark.operators.graph import (
    hits,
    kcore_nodes,
    pagerank,
    pagerank_graph_tables,
    undirected_edges,
)

from .conftest import SF_DIR


@pytest.fixture()
def locked_conf(spark, monkeypatch):
    """The session's confs, with every write refused for the test's span."""

    def refuse(self, *args):
        raise AssertionError(f"session conf written: {args}")

    width = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    monkeypatch.setattr(RuntimeConfig, "unset", refuse)
    yield
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


EDGES = [(1, 2), (2, 3), (9, 3), (20, 21), (40, 21), (50, 51)]
COMPONENTS = {1: 1, 2: 1, 3: 1, 9: 1, 20: 20, 21: 20, 40: 20, 50: 50, 51: 50}


@pytest.mark.parametrize("threshold", [1_000_000, 0], ids=["driver", "loop"])
def test_connected_components_sets_no_conf(spark, locked_conf, threshold):
    pairs = spark.createDataFrame(EDGES, "doc_a long, doc_b long")
    comps = connected_components(pairs, driver_edge_threshold=threshold)
    assert {r.node: r.cluster_id for r in comps.collect()} == COMPONENTS


def test_kcore_nodes_sets_no_conf(spark, locked_conf):
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "a long, b long")
    got = {r["node"]: r["deg"] for r in kcore_nodes(df, "a", "b", k=2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_copartitioned_pagerank_sets_no_conf(spark, locked_conf):
    raw = [(1, 2, 3), (2, 3, 1), (3, 1, 2), (2, 4, 5), (4, 2, 1), (1, 4, 2)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    sym = undirected_edges(edges, "src", "dst", "w")
    ew0, nodes0 = pagerank_graph_tables(sym)
    ew = ew0.repartition(LOOP_WIDTH, "src").persist()
    nodes = nodes0.persist()
    try:
        ew.count()
        ranks, n = pagerank(
            None, iterations=4, tables=(ew, nodes), prevalidated_n=nodes.count(), copartitioned=True
        )
        total = ranks.agg(F.sum("rank")).collect()[0][0]
    finally:
        ew.unpersist()
        nodes.unpersist()
    assert n == 4
    assert total == pytest.approx(1.0, rel=1e-12)  # ranks stay a distribution


def test_hits_with_edges_dst_sets_no_conf(spark, locked_conf):
    edges = spark.createDataFrame(
        [(1, 10, 2.0), (1, 11, 1.0), (2, 10, 1.0)], "src long, dst long, w double"
    ).repartition(LOOP_WIDTH, "src").persist()
    edges_dst = edges.repartition(LOOP_WIDTH, "dst").persist()
    try:
        edges.count()
        edges_dst.count()
        auth, hub = hits(edges, iterations=2, edges_dst=edges_dst)
        got_auth = {r["node"]: r["auth"] for r in auth.collect()}
        got_hub = {r["node"]: r["hub"] for r in hub.collect()}
    finally:
        edges_dst.unpersist()
        edges.unpersist()
    # hand-computed in tests/test_graph.py::test_hits_known_answer_bipartite
    assert got_auth == {10: 17.0, 11: 7.0}
    assert got_hub == {1: 41.0, 2: 17.0}


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_clusters",
        "q_link_graph_components",
        "q_graph_pagerank",
        "q_graph_ppr_segment",
        "q_link_graph_pagerank",
        "q_graph_hits_suppliers",
        "q_graph_kcore",
    ],
)
def test_graph_entries_set_no_conf(spark, locked_conf, name):
    """The catalog entries that run the loops at their narrow width."""
    assert entry.queries()[name](spark, SF_DIR).count() > 0
