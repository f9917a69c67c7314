"""Weighted PageRank (graph.py): known-answer and invariant tests on
constructed graphs — the properties the SQL-oracle harness can't isolate
(uniformity on symmetric cycles, agreement with an independent pure-Python
power iteration, mass conservation, the dangling refusal)."""

from __future__ import annotations

import math
import re

import pytest

from fsql_spark.operators import pagerank, undirected_edges
from fsql_spark.operators.graph import DanglingNodesError


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def _pure_python_pagerank(edges, iterations, damping):
    """Independent reference: dense dict-based power iteration over a
    directed (src, dst, w) list. Mirrors the definition, not the code."""
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    nodes = sorted(outw)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += rank[s] * (w / outw[s])
        rank = {v: (1.0 - damping) / n + damping * contrib[v] for v in nodes}
    return rank


def test_uniform_on_unweighted_cycle(spark):
    # a directed cycle is doubly stochastic: uniform 1/N is the exact
    # fixpoint at EVERY iteration, so any K must return exactly 1/4
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 1, 1)], "src long, dst long, w long"
    )
    ranks, n = pagerank(edges, iterations=3)
    assert n == 4
    got = _ranks(ranks)
    assert set(got) == {1, 2, 3, 4}
    for v in got.values():
        assert v == pytest.approx(0.25, abs=1e-12)


def test_matches_independent_power_iteration(spark):
    # weighted, asymmetric degrees, includes an in-degree-0 node (1 is
    # never a dst) exercising the pure-teleport left-join arm
    raw = [
        (1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 2, 5),
        (2, 4, 1), (4, 2, 1), (3, 4, 2), (4, 3, 7),
    ]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    ranks, n = pagerank(edges, iterations=6, damping=0.85)
    expected = _pure_python_pagerank(raw, iterations=6, damping=0.85)
    got = _ranks(ranks)
    assert n == 4 and set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)


def test_rank_mass_is_conserved(spark):
    raw = [(1, 2, 2), (2, 1, 1), (2, 3, 4), (3, 1, 1), (3, 2, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    ranks, _ = pagerank(edges, iterations=4)
    assert math.fsum(_ranks(ranks).values()) == pytest.approx(1.0, abs=1e-12)


def test_heavier_weight_attracts_more_rank(spark):
    # star with one heavy spoke: the heavy leaf must outrank the light ones
    pairs = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (0, 3, 1)], "a long, b long, w long"
    )
    edges = undirected_edges(pairs, "a", "b", "w")
    ranks, n = pagerank(edges, iterations=5)
    got = _ranks(ranks)
    assert n == 4
    assert got[0] > got[1] > got[2]  # hub first, then the heavy leaf
    assert got[2] == pytest.approx(got[3], abs=1e-12)  # symmetric light leaves


def test_undirected_edges_symmetrize(spark):
    pairs = spark.createDataFrame([(1, 2, 3)], "a long, b long, w long")
    got = {(r["src"], r["dst"], r["w"]) for r in
           undirected_edges(pairs, "a", "b", "w").collect()}
    assert got == {(1, 2, 3), (2, 1, 3)}


def test_dangling_input_refuses(spark):
    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    with pytest.raises(DanglingNodesError, match="dangling"):
        pagerank(edges, iterations=2)


def test_parameter_validation(spark):
    edges = spark.createDataFrame([(1, 1, 1)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=1.0)


# --------------------------------------------------------------------------
# property: random symmetric weighted graphs vs the pure-Python reference
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

pairs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=1, max_value=9),
    ),
    min_size=1,
    max_size=12,
)


@PROP
@given(
    pairs=pairs_strategy,
    iterations=st.integers(min_value=1, max_value=4),
    damping=st.sampled_from([0.5, 0.85]),
)
def test_pagerank_matches_python_on_random_graphs(spark, pairs, iterations, damping):
    # symmetrize python-side with the same row algebra as undirected_edges
    # (multi-edges stay multi-edges: per-row shares sum like summed weights)
    sym = pairs + [(b, a, w) for a, b, w in pairs]
    df = spark.createDataFrame(pairs, "a long, b long, w long")
    ranks, n = pagerank(
        undirected_edges(df, "a", "b", "w"), iterations=iterations, damping=damping
    )
    expected = _pure_python_pagerank(sym, iterations, damping)
    got = _ranks(ranks)
    assert n == len(expected) and set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-11)


# --------------------------------------------------------------------------
# personalized PageRank
# --------------------------------------------------------------------------


def _seed_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def test_ppr_with_all_nodes_seeded_equals_standard(spark):
    raw = [(1, 2, 3), (2, 1, 1), (2, 3, 4), (3, 1, 1), (3, 2, 2)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    std, _ = pagerank(edges, iterations=4)
    ppr, _ = pagerank(edges, iterations=4, seeds=_seed_df(spark, [1, 2, 3]))
    assert _ranks(std) == _ranks(ppr)  # identical teleport + init -> identical


def test_ppr_concentrates_mass_near_seeds(spark):
    # symmetric path 0-1-2-3-4, seed at 0. A path is bipartite, so finite-K
    # ranks oscillate by parity (rank[2] > rank[1] at K=6) — the sound
    # distance-decay claim is WITHIN each parity cohort, plus seed-is-max
    pairs = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(4)], "a long, b long, w long"
    )
    edges = undirected_edges(pairs, "a", "b", "w")
    ranks, _ = pagerank(edges, iterations=6, seeds=_seed_df(spark, [0]))
    got = _ranks(ranks)
    assert got[0] == max(got.values())
    assert got[0] > got[2] > got[4]  # even cohort decays with distance
    assert got[1] > got[3]  # odd cohort decays with distance
    assert math.fsum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_ppr_matches_python_model(spark):
    raw = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 2, 5), (2, 1, 2), (3, 1, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    ranks, _ = pagerank(edges, iterations=5, seeds=_seed_df(spark, [2, 3]))

    # independent model with seeded teleport
    outw = {}
    for s, _, w in raw:
        outw[s] = outw.get(s, 0.0) + w
    nodes = sorted(outw)
    t = {v: (0.5 if v in (2, 3) else 0.0) for v in nodes}
    rank = dict(t)
    for _ in range(5):
        contrib = {v: 0.0 for v in nodes}
        for s, d, w in raw:
            contrib[d] += rank[s] * (w / outw[s])
        rank = {v: 0.15 * t[v] + 0.85 * contrib[v] for v in nodes}
    got = _ranks(ranks)
    for k in rank:
        assert got[k] == pytest.approx(rank[k], abs=1e-11)


def test_ppr_ignores_foreign_seeds_and_refuses_empty(spark):
    raw = [(1, 2, 1), (2, 1, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    with_foreign, _ = pagerank(edges, iterations=3, seeds=_seed_df(spark, [1, 99]))
    only_real, _ = pagerank(edges, iterations=3, seeds=_seed_df(spark, [1]))
    assert _ranks(with_foreign) == _ranks(only_real)
    with pytest.raises(ValueError, match="no seed intersects"):
        pagerank(edges, iterations=3, seeds=_seed_df(spark, [99]))


# --------------------------------------------------------------------------
# HITS hubs/authorities
# --------------------------------------------------------------------------

from fsql_spark.operators.graph import hits


def test_hits_known_answer_bipartite(spark):
    # customers {1,2} -> suppliers {10,11}; hand-computed 2 rounds:
    # h0=1; a1 = {10:3, 11:1}; h1 = {1:7, 2:3}; a2 = {10:17, 11:7};
    # h2 = {1:41, 2:17}
    edges = spark.createDataFrame(
        [(1, 10, 2.0), (1, 11, 1.0), (2, 10, 1.0)], "src long, dst long, w double"
    )
    auth, hub = hits(edges, iterations=2)
    assert {r["node"]: r["auth"] for r in auth.collect()} == {10: 17.0, 11: 7.0}
    assert {r["node"]: r["hub"] for r in hub.collect()} == {1: 41.0, 2: 17.0}


def test_hits_matches_python_model(spark):
    raw = [(1, 10, 3), (1, 11, 1), (2, 10, 2), (2, 12, 5), (3, 11, 1), (10, 1, 2)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    K = 3
    auth_df, hub_df = hits(edges.selectExpr("src", "dst", "cast(w as double) w"), iterations=K)

    hub = {s: 1.0 for s, _, _ in raw}
    auth = {}
    for _ in range(K):
        auth = {}
        for s, d, w in raw:
            auth[d] = auth.get(d, 0.0) + w * hub.get(s, 0.0)
        hub = {}
        for s, d, w in raw:
            hub[s] = hub.get(s, 0.0) + w * auth[d]
    got_a = {r["node"]: r["auth"] for r in auth_df.collect()}
    got_h = {r["node"]: r["hub"] for r in hub_df.collect()}
    assert set(got_a) == set(auth) and set(got_h) == set(hub)
    for k in auth:
        assert got_a[k] == pytest.approx(auth[k], rel=1e-12)
    for k in hub:
        assert got_h[k] == pytest.approx(hub[k], rel=1e-12)


def test_hits_edges_dst_loop_matches_default_plan(wide_session):
    """With a dst-keyed copy of the edges at the loop width, HITS returns
    the default plan's scores, and no hub-step join moves that copy."""
    spark = wide_session
    raw = [(1, 10, 3.0), (1, 11, 1.0), (2, 10, 2.0), (2, 12, 5.0), (3, 11, 1.0), (10, 1, 2.0)]
    edges = spark.createDataFrame(raw, "src long, dst long, w double")
    want_auth, want_hub = (_scores(df) for df in hits(edges, iterations=3))
    cached = edges.repartition(LOOP_WIDTH, "src").persist()
    edges_dst = cached.repartition(LOOP_WIDTH, "dst").persist()
    try:
        cached.count()
        edges_dst.count()
        auth, hub = hits(cached, iterations=3, edges_dst=edges_dst)
        joins, moved = _edge_side_exchanges(hub)
        assert joins >= 3 and moved == []
        got_auth, got_hub = _scores(auth), _scores(hub)
    finally:
        edges_dst.unpersist()
        cached.unpersist()
    assert got_auth == pytest.approx(want_auth, rel=1e-12)
    assert got_hub == pytest.approx(want_hub, rel=1e-12)


def _scores(df):
    return {r[0]: r[1] for r in df.collect()}


def test_hits_validates_iterations(spark):
    edges = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


# --------------------------------------------------------------------------
# triangle counts: degree-oriented kernel vs brute-force enumeration
# --------------------------------------------------------------------------

from fsql_spark.operators.graph import triangle_counts  # noqa: E402


def _python_triangles(raw_pairs):
    """Brute force: canonical undirected edge set, all C(n,3) checks."""
    und = {(min(a, b), max(a, b)) for a, b in raw_pairs if a != b}
    nodes = sorted({n for e in und for n in e})
    deg = {n: sum(1 for e in und if n in e) for n in nodes}
    tri = {n: 0 for n in nodes}
    import itertools

    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in und and (y, z) in und and (x, z) in und:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    return deg, tri


def test_triangle_counts_known_graph(spark):
    """Square with one diagonal: two triangles sharing the diagonal edge."""
    #  1-2, 2-3, 3-4, 4-1, 1-3  => triangles {1,2,3} and {1,3,4}
    raw = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(raw, "a long, b long")
    got = {r["node"]: (r["deg"], r["triangles"], r["lcc"]) for r in
           triangle_counts(df, "a", "b").collect()}
    assert got[1] == (3, 2, 2 * 2 / (3 * 2))
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 2, 2 * 2 / (3 * 2))
    assert got[4] == (2, 1, 1.0)


def test_triangle_counts_dedups_and_ignores_direction_and_loops(spark):
    """Duplicate edges, reversed edges, and self-loops don't inflate."""
    raw = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 1)]
    df = spark.createDataFrame(raw, "a long, b long")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1}


@PROP
@given(pairs=st.lists(
    st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
    min_size=1, max_size=25,
))
def test_triangle_counts_match_brute_force(spark, pairs):
    deg, tri = _python_triangles(pairs)
    if not deg:  # all self-loops: empty edge set, empty output
        assert triangle_counts(
            spark.createDataFrame(pairs, "a long, b long"), "a", "b"
        ).count() == 0
        return
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r["node"]: (r["deg"], r["triangles"]) for r in
           triangle_counts(df, "a", "b").collect()}
    assert got == {n: (deg[n], tri[n]) for n in deg}


# --------------------------------------------------------------------------
# k-core peeling
# --------------------------------------------------------------------------

from fsql_spark.operators.graph import kcore_nodes  # noqa: E402


def test_kcore_peels_pendant_chain(spark):
    """Triangle {1,2,3} with a pendant chain 3-4-5: at k=2 the chain peels
    over two rounds (5 first, then 4) and the triangle survives as the
    exact 2-core with degree 2 everywhere."""
    raw = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(raw, "a long, b long")
    got = {r["node"]: r["deg"] for r in kcore_nodes(df, "a", "b", k=2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # truncation semantics: ONE round only removes the chain tip
    one = {r["node"]: r["deg"] for r in kcore_nodes(df, "a", "b", k=2, rounds=1).collect()}
    assert set(one) == {1, 2, 3, 4}
    assert one[4] == 1  # 4 lost its pendant neighbor but hasn't peeled yet

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k and rounds"):
        kcore_nodes(df, "a", "b", k=0, rounds=1)


# --------------------------------------------------------------------------
# r14: prepared-tables fast path (prevalidated_n + copartitioned loop)
# --------------------------------------------------------------------------

from fsql_spark.operators.clustering import LOOP_WIDTH  # noqa: E402
from fsql_spark.operators.graph import pagerank_graph_tables  # noqa: E402


def _edge_side_exchanges(df) -> tuple[int, list[str]]:
    """(shuffled-hash joins, the exchanges placed right on their edge side)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    joins = [i for i, line in enumerate(lines) if "ShuffledHashJoin" in line]
    return len(joins), [lines[i + 1] for i in joins if "Exchange" in lines[i + 1]]


def _node_exchanges(df) -> list[tuple[str, str]]:
    """(width, origin) of every exchange on ``node``, top of the plan first."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange hashpartitioning\(node#\d+L?, (\d+)\), (\w+)", plan)


@pytest.fixture()
def wide_session(spark):
    """A session width above the loop width: a loop that took its width
    from the session would re-exchange the edge cache to the wider side."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        yield spark
    finally:
        spark.conf.set(key, prev)


def test_copartitioned_loop_matches_default_plan(wide_session):
    """The co-partitioned shuffled-hash loop (prepared, finalized cache +
    prevalidated_n) must produce byte-identical ranks to the default
    broadcast loop — the r14 graph-entry rewrite's value contract — and
    never move the edge cache, whatever the session width."""
    spark = wide_session
    raw = [(1, 2, 3), (2, 3, 1), (3, 1, 2), (2, 4, 5), (4, 2, 1), (1, 4, 2)]
    edges = spark.createDataFrame(raw, "src long, dst long, w long")
    sym = undirected_edges(edges, "src", "dst", "w")
    default, n_default = pagerank(sym, iterations=4)
    want = _ranks(default)

    ew0, nodes0 = pagerank_graph_tables(sym)
    ew = ew0.repartition(LOOP_WIDTH, "src").persist()
    nodes = nodes0.persist()
    try:
        ew.count()  # finalize the cached plan before the loop is planned
        n = nodes.count()
        fast, n_fast = pagerank(
            None, iterations=4, tables=(ew, nodes),
            prevalidated_n=n, copartitioned=True,
        )
        # every round's rank join is the hinted shuffled-hash join (the
        # BHJs visible inside the printed InMemoryRelation subtrees are the
        # one-time cache build, not the loop), reading the edge cache as is
        joins, moved = _edge_side_exchanges(fast)
        assert joins >= 4 and moved == []
        # the first ranks and rounds 1..3 sum at the loop width; the last
        # round's sum feeds no join and takes the planner's own exchange
        sums = _node_exchanges(fast)
        assert sums[0] == ("16", "ENSURE_REQUIREMENTS")
        assert sums[1:] == [(str(LOOP_WIDTH), "REPARTITION_BY_NUM")] * 4
        got = _ranks(fast)
    finally:
        ew.unpersist()
        nodes.unpersist()
    assert n_fast == n_default == n
    # same math, different partial-sum arrival order (broadcast vs SHJ
    # loop): agreement to ~1 ulp; the 4dp entry rounding absorbs it (the
    # r12 GEMM-rewrite adjudication), pinned hash-green vs the oracle at
    # sf0.001/0.01/0.1
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_prevalidated_n_skips_witness_and_is_trusted(spark):
    """prevalidated_n is the caller's contract: the dangling witness does
    not run (a dangling graph proceeds) and the teleport mass uses the
    given n — so the parameter must only ever come from a build-time
    validated cache."""
    dangling = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    with pytest.raises(DanglingNodesError):
        pagerank(dangling, iterations=1)
    ranks, n = pagerank(dangling, iterations=1, prevalidated_n=1)
    assert n == 1  # the witness did not run; the given n is trusted as-is
    ranks.collect()  # and the loop executes (results undefined: leaky graph)
