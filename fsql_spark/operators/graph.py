"""Graph centrality over relation-derived graphs: weighted PageRank.

A training-data pipeline meets graphs constantly — the crawl's host link
graph (authority scores drive crawl prioritization and quality weighting,
the Common Crawl / C4 lineage), the near-dup similarity graph (rank cluster
members by centrality to pick the best representative), and entity
co-occurrence graphs. The iterative kernel is the same everywhere: a
fixed-iteration weighted PageRank

    rank'(v) = (1 - d) / N  +  d * SUM_{(u,v) in E} rank(u) * w(u,v) / wout(u)

This module complements :mod:`clustering` (connected components = WHICH
nodes belong together) with HOW CENTRAL each node is.

Scale shape (the 100 TB story):

- the edge list is built declaratively (a join + a map-side-combinable
  count), persisted ONCE with the out-weight share precomputed, and read
  back by every iteration — the corpus is scanned exactly once;
- a FIXED iteration count keeps the whole computation ONE declarative plan
  (the K rounds unroll into K join+aggregate pairs, exactly mirroring the
  unrolled-CTE SQL oracle) — no per-round driver action, so the scheduler
  pipelines rounds and AQE picks per-round join strategies. PageRank is a
  damped fixed-point iteration: unlike label propagation its convergence
  is geometric in ``damping`` regardless of graph diameter, so K is a
  quality knob (d^K residual), not a correctness one — no convergence
  action needed;
- per round the only corpus-scale exchange is the contribution aggregate
  keyed by ``dst``; the rank table is NODE-sized (orders of magnitude
  smaller than edges for any real graph), so the rank-to-edge join
  broadcasts whenever nodes fit and hash-joins on ``src`` otherwise.

Dangling nodes (out-degree 0) would leak rank mass; redistributing it
needs a global scalar per round — a cross join the plan lint rightly
forbids. This implementation REFUSES dangling inputs instead (one cheap
anti-join probe at build time); symmetric graphs — both use cases above —
can never dangle, and :func:`undirected_edges` produces them.

No reference counterpart (the reference delegates all row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .clustering import LOOP_WIDTH


class DanglingNodesError(ValueError):
    """The edge list has sinks (out-degree 0) — PageRank mass would leak."""


def undirected_edges(
    pairs: DataFrame, src_col: str, dst_col: str, weight_col: str
) -> DataFrame:
    """Symmetric closure of a directed pair list: every (a, b, w) also
    contributes (b, a, w). The resulting graph has no dangling nodes by
    construction (every endpoint has at least one out-edge)."""
    # map-side doubling via explode, NOT union(fwd, fwd.swapped): the union's
    # two branches would each recompute the (possibly expensive) pairs
    # subtree — explode emits both directions in the same pass
    fwd = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col(weight_col).alias("w"),
    )
    both = F.explode(
        F.array(
            F.struct(F.col("src"), F.col("dst"), F.col("w")),
            F.struct(
                F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
            ),
        )
    )
    return fwd.select(both.alias("e")).select("e.src", "e.dst", "e.w")


def pagerank_graph_tables(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ew, nodes) from a directed (src, dst, w) edge list: the
    share-annotated edge table (``share = w / out-weight(src)``) and the
    node universe (distinct src). The K unrolled PageRank rounds reference
    BOTH K+ times in one plan, so callers that execute the loop should
    ``.persist()`` these two (and release them after the action) — the
    out-weight aggregate+join would otherwise recompute once per round."""
    base = edges.select("src", "dst", F.col("w").cast("double").alias("w"))
    outw = base.groupBy("src").agg(F.sum("w").alias("wout"))
    # share precomputed once: each round then only joins ranks and sums
    ew = base.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("wout")).alias("share")
    )
    nodes = ew.select(F.col("src").alias("node")).distinct()
    return ew, nodes


def pagerank(
    edges: DataFrame | None,
    iterations: int = 5,
    damping: float = 0.85,
    tables: tuple[DataFrame, DataFrame] | None = None,
    seeds: DataFrame | None = None,
    prevalidated_n: int | None = None,
    copartitioned: bool = False,
) -> tuple[DataFrame, int]:
    """Weighted PageRank over a directed (src, dst, w) edge list with no
    dangling nodes -> ((node, rank) DataFrame, n_nodes).

    The node universe is the distinct ``src`` set (complete for dangling-free
    graphs: every node that ever receives mass also emits it). Ranks start
    at the teleport distribution and stay a probability distribution every
    round (teleport mass (1-d) + propagated mass d). The returned plan is
    LAZY — K unrolled join+aggregate rounds; pass ``tables`` (persisted
    output of :func:`pagerank_graph_tables`) to keep the rounds reading a
    cache (see :func:`q_graph_pagerank` for the persist/materialize/release
    pattern).

    ``seeds`` (a one-column ``node`` DataFrame) switches to PERSONALIZED
    PageRank: teleport mass lands uniformly on the seed set instead of all
    nodes — trust/authority propagation from a trusted whitelist, crawl
    frontier scoring from known-good hosts, "similar suppliers to THESE
    customers". Seeds outside the graph are ignored (inner intersect);
    refuses an empty intersection.

    Eager probes, all build-time and node-sized: the dangling-input
    refusal, the N count, and (personalized) the seed count.
    ``prevalidated_n`` is the caller's guarantee that the graph is already
    known dangling-free with that node count (a symmetrized
    ``undirected_edges`` build, or the build-once cache whose builder ran
    the witness at ingest): it skips the per-call witness — a full
    edge-table distinct scan that at 100 TB costs a corpus pass PER
    QUERY asked of the same graph — and the node count.

    ``copartitioned=True`` is the caller's statement that ``tables`` are
    persisted hash-partitioned by ``src`` (at
    :data:`~fsql_spark.operators.clustering.LOOP_WIDTH`) with the cached
    plan FINALIZED (materialize with ``ew.count()`` before building the
    loop — a lazy cache plans as adaptive-not-final, reports unknown
    partitioning, and EnsureRequirements re-exchanges the edge table every
    round). The loop then pins a shuffled-hash join (ranks build side), and
    each round's contributions but the last's are
    ``repartition(LOOP_WIDTH, "node")``ed before they are summed, so the
    ranks come out partitioned like the edge cache and the join runs with
    ZERO exchange — the edge table never moves after the one repartition.
    The last round's sum feeds no join and takes the planner's own
    exchange, which AQE coalesces. (Summed at the session width instead, the
    ranks would be wider than the cache, and the planner would re-exchange
    the edge table to the wider side every round.) The default plan
    re-broadcasts the node-sized ranks table every round (collect + ship
    per iteration; at corpus node counts that is not a broadcastable side
    at all, and the SMJ fallback would re-exchange ew per round).
    Build-side memory is nodes/width per task. Leave False for ad-hoc
    ``edges``: without the co-partitioned cache the hint would shuffle the
    recomputed edge subtree by src every round, which is strictly worse
    than broadcasting node-sized ranks.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")

    if tables is None and edges is None:
        raise ValueError("pass an edge list or prepared tables")
    ew, nodes = tables if tables is not None else pagerank_graph_tables(edges)

    if prevalidated_n is None:
        # dangling probe: a dst never seen as src has out-degree 0 — refuse.
        # Reads ew (the caller-cached table), not the raw edge build; limit(1)
        # stops at the first witness — no full count needed.
        witness = (
            ew.select("dst").distinct()
            .join(nodes, F.col("dst") == F.col("node"), "left_anti")
            .limit(1)
            .collect()
        )
        if witness:
            raise DanglingNodesError(
                f"edge list has dangling node(s), e.g. {witness[0]['dst']!r} — "
                "PageRank mass would leak; symmetrize the graph "
                "(undirected_edges) or drop sinks first"
            )
        n = nodes.count()
    else:
        n = prevalidated_n

    # one exchange per round: the teleport mass rides the aggregate as a
    # baseline row per node (union, map-side) instead of a second join —
    # in-degree-0 nodes still end at pure teleport mass (their only row)
    if seeds is None:
        baseline = nodes.select("node", F.lit((1.0 - damping) / n).alias("part"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    else:
        marked = nodes.join(
            seeds.select("node").distinct().withColumn("_s", F.lit(1)),
            "node",
            "left",
        )
        n_seeds = marked.where(F.col("_s") == 1).count()
        if n_seeds == 0:
            raise ValueError(
                "personalized pagerank: no seed intersects the graph's nodes"
            )
        is_seed = F.col("_s") == 1
        baseline = marked.select(
            "node",
            F.when(is_seed, F.lit((1.0 - damping) / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("part"),
        )
        ranks = marked.select(
            "node",
            F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("rank"),
        )
    if copartitioned:  # the first round's ranks too, whatever nodes' layout
        ranks = ranks.repartition(LOOP_WIDTH, "node")
    for i in range(iterations):
        rhs = ranks.hint("shuffle_hash") if copartitioned else ranks
        contrib = ew.join(rhs, ew.src == rhs.node).select(
            F.col("dst").alias("node"),
            (F.lit(damping) * F.col("rank") * F.col("share")).alias("part"),
        )
        parts = baseline.union(contrib)
        # the last round's sum feeds no join: let it plan its own exchange,
        # which AQE can coalesce for what runs after the loop
        if copartitioned and i < iterations - 1:
            parts = parts.repartition(LOOP_WIDTH, "node")
        ranks = parts.groupBy("node").agg(F.sum("part").alias("rank"))
    return ranks, n


# --------------------------------------------------------------------------
# catalog entry + oracle
# --------------------------------------------------------------------------

_PR_ITERATIONS = 5
_PR_DAMPING = 0.85


def order_graph_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The customer<->supplier order graph: an undirected bipartite edge per
    (customer, supplier) pair that ever traded, weighted by lineitem count.
    Node encoding: customer -> key*2, supplier -> key*2+1 (disjoint ids
    without string keys). One fact-scan join + one map-side-combinable
    count builds it."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
            "w",
        )
    )
    return undirected_edges(pairs, "cust_node", "supp_node", "w")


def order_graph_tables_cached(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame, int]:
    """Compute-once (ew, nodes, n_nodes) for a testdata sf dir: the first
    caller materializes the share-annotated edge table + node universe into
    a fingerprinted /tmp parquet cache (the corpus_signatures_cached
    lifecycle); every later question asked of the SAME graph — global
    PageRank, personalized PageRank from any seed set, degree audits —
    reads the slim graph tables instead of re-joining the fact tables.
    That is the 100 TB graph lifecycle: build the graph once, query it
    many times. The kernel fingerprint covers this module's builders so
    an encoding/share change invalidates the cache.

    The dangling witness and the node count run ONCE at build time and
    land in the cache's ``meta.json`` (r14): validating a graph per query
    cost a full edge-table distinct scan each call; callers hand the
    stored count to :func:`pagerank` as ``prevalidated_n``."""
    import hashlib
    import inspect
    import json
    import os

    from ..fsql_catalog import _build_once, _tree_dir

    kern = hashlib.md5(
        inspect.getsource(order_graph_edges).encode()
        + inspect.getsource(undirected_edges).encode()
        + inspect.getsource(pagerank_graph_tables).encode()
    ).hexdigest()[:8]

    def build(staging: str) -> None:
        ew, nodes = pagerank_graph_tables(order_graph_edges(spark, sf))
        ew.write.parquet(os.path.join(staging, "ew.parquet"))
        nodes.write.parquet(os.path.join(staging, "nodes.parquet"))
        ew_w = spark.read.parquet(os.path.join(staging, "ew.parquet"))
        nodes_w = spark.read.parquet(os.path.join(staging, "nodes.parquet"))
        witness = (
            ew_w.select("dst").distinct()
            .join(nodes_w, F.col("dst") == F.col("node"), "left_anti")
            .limit(1)
            .collect()
        )
        if witness:  # unreachable for the symmetrized order graph; belt
            raise DanglingNodesError(
                f"order graph build produced dangling node {witness[0]['dst']!r}"
            )
        with open(os.path.join(staging, "meta.json"), "w") as fd:
            json.dump({"n_nodes": nodes_w.count(), "dangling_free": True}, fd)

    # v2: meta.json (build-time witness + node count) joined the layout
    dest = _build_once(_tree_dir(sf, f"ordergraph_v2_k{kern}", "lineitem"), build)
    with open(os.path.join(dest, "meta.json")) as fd:
        meta = json.load(fd)
    # validate before trusting: prevalidated_n fully disables pagerank's
    # dangling witness + node count, so a stale / hand-copied / partially
    # written meta.json must fail loudly here rather than silently yield
    # mass-leaking ranks (advice find)
    n_nodes = int(meta.get("n_nodes", 0))
    if meta.get("dangling_free") is not True or n_nodes <= 0:
        raise DanglingNodesError(
            f"order-graph cache {dest} has an invalid meta.json "
            f"({meta!r}): expected dangling_free=true and n_nodes>0. "
            "Delete the cache dir to rebuild it."
        )
    return (
        spark.read.parquet(os.path.join(dest, "ew.parquet")),
        spark.read.parquet(os.path.join(dest, "nodes.parquet")),
        n_nodes,
    )



def _q_graph_pagerank_frame(
    spark: SparkSession,
    sf: str,
    edges: DataFrame | None = None,
    tables: tuple[DataFrame, DataFrame] | None = None,
    prevalidated_n: int | None = None,
    copartitioned: bool = False,
) -> DataFrame:
    if edges is None and tables is None:
        edges = order_graph_edges(spark, sf)
    ranks, n = pagerank(
        edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING, tables=tables,
        prevalidated_n=prevalidated_n, copartitioned=copartitioned,
    )
    supplier = spark.read.parquet(f"{sf}/supplier.parquet").select("s_suppkey", "s_name")
    return (
        ranks.join(supplier, ranks.node == supplier.s_suppkey * 2 + 1)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rank") * F.lit(float(n)), 4).alias("pr_scaled"),
        )
        .orderBy("s_suppkey")
    )


def q_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier centrality in the customer–supplier order graph: 5-round
    weighted PageRank, reported as rank x N (mean 1.0 — 'how many times a
    uniform share') rounded to 4dp.

    The K unrolled rounds reference the edge table K+1 times in one plan,
    so it is persisted for the call and the node-sized result materialized
    driver-side so the cache can be RELEASED per call — the
    q_source_js_divergence pattern; ``lint_target`` exposes the real
    distributed plan to the catalog-wide lint.

    Two shuffle-width regimes: the edge BUILD is corpus-scale, so the
    share-annotated edge table and the node universe materialize into their
    caches at the session width FIRST; every loop table after that is
    node-sized, so the edge cache is partitioned at the narrow
    :data:`~fsql_spark.operators.clustering.LOOP_WIDTH` and each round
    sums at that width too (:func:`pagerank`, ``copartitioned``) — at a
    corpus-sized width the ~3 stages x K rounds each launch a task per
    mostly-empty partition and task-launch overhead dominates."""
    ew0, nodes0, n = order_graph_tables_cached(spark, sf)
    # co-partitioned loop (r14): ew persisted hash-partitioned by src at the
    # loop width and MATERIALIZED before the loop is planned (a lazy cache
    # plans adaptive-not-final -> unknown partitioning -> a defensive
    # re-exchange of the edge table every round); each round's shuffled-hash
    # join then runs with zero exchange against the groupBy-partitioned
    # ranks, and the build-time-validated n skips the per-call witness scan
    ew = ew0.repartition(LOOP_WIDTH, "src").persist()
    nodes = nodes0.persist()
    try:
        ew.count()  # finalize the cached plan: the loop sees hashpartitioning(src)
        out = _q_graph_pagerank_frame(
            spark, sf, tables=(ew, nodes), prevalidated_n=n, copartitioned=True
        )
        pdf = out.toPandas()  # one row per supplier: 3 scalars
    finally:
        ew.unpersist()
        nodes.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


q_graph_pagerank.lint_target = _q_graph_pagerank_frame


def _pagerank_oracle_sql(iterations: int, damping: float) -> str:
    """Unrolled-CTE replica: identical init, identical per-round formula,
    identical operation ORDER for the float-sensitive constants (teleport is
    (1.0 - d) / n in both engines — NOT a pre-folded literal, which would
    differ from the IEEE result of the subtraction by one ulp)."""
    sql = f"""
WITH pairs AS (
  SELECT o_custkey * 2 AS cust_node, l_suppkey * 2 + 1 AS supp_node,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT cust_node AS src, supp_node AS dst, w FROM pairs
  UNION ALL
  SELECT supp_node, cust_node, w FROM pairs
),
outw AS (SELECT src, SUM(CAST(w AS DOUBLE)) AS wout FROM edges GROUP BY src),
ew AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS share
  FROM edges e JOIN outw o USING (src)
),
nodes AS (SELECT DISTINCT src AS node FROM ew),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, iterations + 1):
        sql += f""",
pr{i} AS (
  SELECT node, SUM(part) AS rank FROM (
    SELECT node, (1.0 - {damping!r}) / (SELECT n FROM nn) AS part FROM nodes
    UNION ALL
    SELECT ew.dst, {damping!r} * p.rank * ew.share
    FROM ew JOIN pr{i - 1} p ON p.node = ew.src
  ) GROUP BY node
)"""
    sql += f"""
SELECT s_suppkey, s_name,
       ROUND(rank * (SELECT n FROM nn), 4) AS pr_scaled
FROM pr{iterations} JOIN supplier ON node = s_suppkey * 2 + 1
ORDER BY s_suppkey
"""
    return sql


Q_GRAPH_PAGERANK_SQL = _pagerank_oracle_sql(_PR_ITERATIONS, _PR_DAMPING)


_PPR_SEGMENT = "BUILDING"


def _q_graph_ppr_frame(
    spark: SparkSession,
    sf: str,
    edges: DataFrame | None = None,
    tables: tuple[DataFrame, DataFrame] | None = None,
    prevalidated_n: int | None = None,
    copartitioned: bool = False,
) -> DataFrame:
    if edges is None and tables is None:
        edges = order_graph_edges(spark, sf)
    seeds = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .where(F.col("c_mktsegment") == _PPR_SEGMENT)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    ranks, n = pagerank(
        edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING,
        tables=tables, seeds=seeds,
        prevalidated_n=prevalidated_n, copartitioned=copartitioned,
    )
    supplier = spark.read.parquet(f"{sf}/supplier.parquet").select("s_suppkey", "s_name")
    return (
        ranks.join(supplier, ranks.node == supplier.s_suppkey * 2 + 1)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rank") * F.lit(float(n)), 4).alias("ppr_scaled"),
        )
        .orderBy("s_suppkey")
    )


def q_graph_ppr_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to the BUILDING-
    segment customers — 'which suppliers matter to THIS cohort', the
    trust/frontier-propagation shape (seeded authority instead of global
    centrality). Same persist/materialize/release pattern and unrolled
    5-round plan as q_graph_pagerank; seeds outside the graph are ignored
    by construction."""
    ew0, nodes0, n = order_graph_tables_cached(spark, sf)
    # same co-partitioned loop + build-time-validated n as q_graph_pagerank
    ew = ew0.repartition(LOOP_WIDTH, "src").persist()
    nodes = nodes0.persist()
    try:
        ew.count()  # finalize the cached plan: the loop sees hashpartitioning(src)
        out = _q_graph_ppr_frame(
            spark, sf, tables=(ew, nodes), prevalidated_n=n, copartitioned=True
        )
        pdf = out.toPandas()  # one row per supplier: 3 scalars
    finally:
        ew.unpersist()
        nodes.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


q_graph_ppr_segment.lint_target = _q_graph_ppr_frame


def _ppr_oracle_sql(iterations: int, damping: float, segment: str) -> str:
    """Unrolled-CTE replica of the PERSONALIZED variant: identical seed
    intersection, identical float-op order ((1.0 - d) / |seeds| — not a
    pre-folded literal)."""
    sql = f"""
WITH pairs AS (
  SELECT o_custkey * 2 AS cust_node, l_suppkey * 2 + 1 AS supp_node,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT cust_node AS src, supp_node AS dst, w FROM pairs
  UNION ALL
  SELECT supp_node, cust_node, w FROM pairs
),
outw AS (SELECT src, SUM(CAST(w AS DOUBLE)) AS wout FROM edges GROUP BY src),
ew AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS share
  FROM edges e JOIN outw o USING (src)
),
nodes AS (SELECT DISTINCT src AS node FROM ew),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
seeds AS (
  SELECT c_custkey * 2 AS node FROM customer WHERE c_mktsegment = '{segment}'
),
marked AS (
  SELECT n.node, (s.node IS NOT NULL) AS is_seed
  FROM nodes n LEFT JOIN seeds s USING (node)
),
ns AS (SELECT CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE) AS s FROM marked),
pr0 AS (
  SELECT node,
         CASE WHEN is_seed THEN 1.0 / (SELECT s FROM ns) ELSE 0.0 END AS rank
  FROM marked
)"""
    for i in range(1, iterations + 1):
        sql += f""",
pr{i} AS (
  SELECT node, SUM(part) AS rank FROM (
    SELECT node,
           CASE WHEN is_seed THEN (1.0 - {damping!r}) / (SELECT s FROM ns)
                ELSE 0.0 END AS part
    FROM marked
    UNION ALL
    SELECT ew.dst, {damping!r} * p.rank * ew.share
    FROM ew JOIN pr{i - 1} p ON p.node = ew.src
  ) GROUP BY node
)"""
    sql += f"""
SELECT s_suppkey, s_name,
       ROUND(rank * (SELECT n FROM nn), 4) AS ppr_scaled
FROM pr{iterations} JOIN supplier ON node = s_suppkey * 2 + 1
ORDER BY s_suppkey
"""
    return sql


Q_GRAPH_PPR_SQL = _ppr_oracle_sql(_PR_ITERATIONS, _PR_DAMPING, _PPR_SEGMENT)



def q_link_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """The full crawl-ranking pipeline in one declarative plan: render the
    synthetic pages WITH their deterministic cross-doc hyperlinks, extract
    every href back out of the raw HTML (regexp_extract_all — the
    link-graph feed), parse the /doc/<id> targets, symmetrize, and run
    5-round weighted PageRank over the resulting page graph — ingest ->
    extract -> graph -> rank, each stage the real operator, the whole
    chain replayed by the SQL oracle from the documents table. Output is
    every page's rank x N (4dp), i.e. crawl-prioritization scores.

    Same persist/materialize/release + narrow-loop-width pattern as the
    other graph entries (the page graph is corpus-sized: ~3 links/page)."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")  # boilerplate chrome links drop out
        .select("doc_id", F.col("_target").cast("long").alias("target"))
        .groupBy("doc_id", "target")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = undirected_edges(pairs, "doc_id", "target", "w")
    ew0, nodes0 = pagerank_graph_tables(edges)
    # the symmetrized build is dangling-free by construction, so the node
    # count doubles as prevalidated_n (no witness scan); co-partitioned
    # loop as in q_graph_pagerank (ew materialized pre-planning)
    ew = ew0.repartition(LOOP_WIDTH, "src").persist()
    nodes = nodes0.persist()
    try:
        ew.count()  # the one corpus job: extract links + build + partition
        n = nodes.count()
        ranks, n = pagerank(
            None, iterations=_PR_ITERATIONS, damping=_PR_DAMPING,
            tables=(ew, nodes), prevalidated_n=n, copartitioned=True,
        )
        out = ranks.select(
            F.col("node").alias("doc_id"),
            F.round(F.col("rank") * F.lit(float(n)), 4).alias("pr_scaled"),
        ).orderBy("doc_id")
        pdf = out.toPandas()  # one row per page: 2 scalars
    finally:
        ew.unpersist()
        nodes.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


def _q_link_graph_lint(spark: SparkSession, sf: str) -> DataFrame:
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
        .groupBy("doc_id", "target")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks, n = pagerank(
        undirected_edges(pairs, "doc_id", "target", "w"),
        iterations=_PR_ITERATIONS, damping=_PR_DAMPING,
    )
    return ranks.select(
        F.col("node").alias("doc_id"),
        F.round(F.col("rank") * F.lit(float(n)), 4).alias("pr_scaled"),
    ).orderBy("doc_id")


q_link_graph_pagerank.lint_target = _q_link_graph_lint


def _link_pagerank_oracle_sql(iterations: int, damping: float) -> str:
    """Replays the WHOLE pipeline: page synthesis (with the cross-doc
    'see also' links), href extraction from the raw HTML, target parsing,
    symmetrization, and the unrolled rounds."""
    sql = f"""
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
pages AS (
  SELECT doc_id,
         '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &mdash; ' || source
         || '</title><script>var pageId=' || CAST(doc_id AS VARCHAR)
         || ';track(pageId);</script><style>body{{margin:0}} p{{font:14px serif}}</style>'
         || '</head><body><nav><a href="/">home</a> <a href="/about">about</a></nav>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '<p>'
         || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
         || '</p>' || chr(10)
         || '<p>see also <a href="/doc/' || CAST((doc_id * 7 + 1) % (SELECT c FROM nn0) AS VARCHAR)
         || '">doc ' || CAST((doc_id * 7 + 1) % (SELECT c FROM nn0) AS VARCHAR)
         || '</a> and <a href="/doc/' || CAST((doc_id * 13 + 5) % (SELECT c FROM nn0) AS VARCHAR)
         || '">doc ' || CAST((doc_id * 13 + 5) % (SELECT c FROM nn0) AS VARCHAR)
         || '</a></p>'
         || '<footer>&copy; ' || source
         || ' &nbsp;<a href="/terms">terms</a></footer></body></html>' AS html
  FROM documents
),
hrefs AS (
  SELECT doc_id, unnest(regexp_extract_all(html, '<a href="([^"]+)"', 1)) AS href
  FROM pages
),
pairs AS (
  SELECT doc_id, CAST(regexp_extract(href, '^/doc/([0-9]+)$', 1) AS BIGINT) AS target,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM hrefs
  WHERE regexp_extract(href, '^/doc/([0-9]+)$', 1) <> ''
  GROUP BY 1, 2
),
edges AS (
  SELECT doc_id AS src, target AS dst, w FROM pairs
  UNION ALL
  SELECT target, doc_id, w FROM pairs
),
outw AS (SELECT src, SUM(CAST(w AS DOUBLE)) AS wout FROM edges GROUP BY src),
ew AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS share
  FROM edges e JOIN outw o USING (src)
),
nodes AS (SELECT DISTINCT src AS node FROM ew),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, iterations + 1):
        sql += f""",
pr{{i}} AS (
  SELECT node, SUM(part) AS rank FROM (
    SELECT node, (1.0 - {damping!r}) / (SELECT n FROM nn) AS part FROM nodes
    UNION ALL
    SELECT ew.dst, {damping!r} * p.rank * ew.share
    FROM ew JOIN pr{{j}} p ON p.node = ew.src
  ) GROUP BY node
)""".replace("{i}", str(i)).replace("{j}", str(i - 1))
    sql += f"""
SELECT node AS doc_id,
       ROUND(rank * (SELECT n FROM nn), 4) AS pr_scaled
FROM pr{iterations}
ORDER BY doc_id
"""
    return sql


Q_LINK_PAGERANK_SQL = _link_pagerank_oracle_sql(_PR_ITERATIONS, _PR_DAMPING)



def hits(
    edges: DataFrame,
    iterations: int = 3,
    edges_dst: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Weighted HITS (Kleinberg) over a directed (src, dst, w) edge list ->
    ((node, auth), (node, hub)) — UNNORMALIZED scores after ``iterations``
    synchronous rounds (hub_0 = 1 on every source;
    auth_i = sum_in w * hub_{i-1}; hub_i = sum_out w * auth_i). Callers
    normalize at output (scores grow multiplicatively with the weighted
    degree — still far inside double range for any sane K; normalizing
    per round would need a global scalar per round, the cross join the
    plan lint forbids). Dangling is NATURAL here: sinks simply keep hub 0
    — authorities don't need out-edges, unlike PageRank's mass
    conservation. The plan is LAZY: 2K unrolled join+aggregate pairs;
    callers should pass a persisted ``edges``.

    ``edges_dst`` (r15, the pagerank co-partitioning lesson applied
    asymmetrically): a copy of ``edges`` persisted hash-partitioned by
    ``dst`` at :data:`~fsql_spark.operators.clustering.LOOP_WIDTH` and
    MATERIALIZED before the loop is planned. Each round's auth sum then
    runs over contributions repartitioned by ``dst`` at that width (the
    pagerank rule), and the hub step joins the auth aggregate against it
    with a pinned shuffled-hash join — no exchange and no per-round sort
    of the edge table, where the default plan sort-merge-joins (the auth
    side's post-aggregation size is unknown to the planner, so it never
    broadcasts). The src-side join
    stays a broadcast of the node-sized hub — the SYMMETRIC double-cache
    was A/B'd and rejected in r14 (building the second keyed copy cost
    more than the sorts it saved)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    srcs = edges.select(F.col("src").alias("node")).distinct()
    dsts = edges.select(F.col("dst").alias("node")).distinct()
    hub = srcs.withColumn("hub", F.lit(1.0))
    ed = edges_dst if edges_dst is not None else edges
    auth = None
    for _ in range(iterations):
        contrib = edges.join(hub, edges.src == hub.node)
        if edges_dst is not None:
            contrib = contrib.repartition(LOOP_WIDTH, "dst")
        auth = (
            contrib.groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("hub")).alias("auth"))
            .select(F.col("dst").alias("node"), "auth")
        )
        if edges_dst is not None:
            auth = auth.hint("shuffle_hash")
        hub = (
            ed.join(auth, ed.dst == auth.node)
            .groupBy("src")
            .agg(F.sum(F.col("w") * F.col("auth")).alias("hub"))
            .select(F.col("src").alias("node"), "hub")
        )
    # nodes that received nothing keep score 0 (possible only for sources
    # with no in-edges / sinks with no out-edges — the bipartite norm)
    auth_full = dsts.join(auth, "node", "left").select(
        "node", F.coalesce("auth", F.lit(0.0)).alias("auth")
    )
    hub_full = srcs.join(hub, "node", "left").select(
        "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
    )
    return auth_full, hub_full


_HITS_ITERATIONS = 3


def q_graph_hits_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier AUTHORITY in the directed customer->supplier order graph
    (weighted HITS, 3 rounds): customers are the natural hubs (they point
    at suppliers), suppliers the natural authorities — the directed
    complement of q_graph_pagerank's symmetric centrality. Scores are
    normalized to mean 1 over suppliers (sum collected driver-side — one
    node-sized action — then scaled IN Spark so the 4dp rounding is the
    engine's own) and reported per supplier.

    Edge build is one fact join + count; the 2K unrolled rounds run over
    the directed edge table persisted twice at the narrow loop width, once
    partitioned by ``src`` and once by ``dst`` (see :func:`hits`), so the
    rounds' joins and aggregates adopt that width from the caches."""
    orders = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("dst"),
            "w",
        )
        .repartition(LOOP_WIDTH, "src")
        .persist()
    )
    # dst-keyed copy for the hub-step joins (see hits() docstring):
    # materialized eagerly so the loop plans against its final
    # hashpartitioning(dst) — paired with the dst-partitioned auth
    # aggregate, each round's hub join runs exchange- and sort-free where
    # the default plan sort-merge-joined
    edges_dst = edges.repartition(LOOP_WIDTH, "dst").persist()
    try:
        edges.count()  # the one corpus job
        edges_dst.count()
        auth, _hub = hits(edges, iterations=_HITS_ITERATIONS, edges_dst=edges_dst)
        # three actions follow (sum, count, collect): persist the
        # node-sized result so the 2K-join chain runs once
        auth = auth.persist()
        total = auth.agg(F.sum("auth")).collect()[0][0]
        n = auth.count()
        supplier = spark.read.parquet(f"{sf}/supplier.parquet").select(
            "s_suppkey", "s_name"
        )
        out = (
            auth.join(supplier, auth.node == supplier.s_suppkey)
            .select(
                "s_suppkey",
                "s_name",
                F.round(
                    F.col("auth") / F.lit(float(total)) * F.lit(float(n)), 4
                ).alias("authority"),
            )
            .orderBy("s_suppkey")
        )
        pdf = out.toPandas()  # one row per supplier: 3 scalars
        auth.unpersist()
    finally:
        edges_dst.unpersist()
        edges.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


def _q_graph_hits_lint(spark: SparkSession, sf: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"), "w")
    )
    auth, _ = hits(edges, iterations=_HITS_ITERATIONS)
    return auth


q_graph_hits_suppliers.lint_target = _q_graph_hits_lint


def _hits_oracle_sql(iterations: int) -> str:
    sql = """
WITH edges AS (
  SELECT o_custkey AS src, l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
h0 AS (SELECT DISTINCT src AS node, 1.0 AS hub FROM edges)"""
    for i in range(1, iterations + 1):
        sql += f""",
a{i} AS (
  SELECT e.dst AS node, SUM(e.w * h.hub) AS auth
  FROM edges e JOIN h{i - 1} h ON h.node = e.src
  GROUP BY e.dst
),
h{i} AS (
  SELECT e.src AS node, SUM(e.w * a.auth) AS hub
  FROM edges e JOIN a{i} a ON a.node = e.dst
  GROUP BY e.src
)"""
    sql += f"""
SELECT s_suppkey, s_name,
       ROUND(a.auth / (SELECT SUM(auth) FROM a{iterations})
             * (SELECT CAST(COUNT(*) AS DOUBLE) FROM a{iterations}), 4) AS authority
FROM a{iterations} a JOIN supplier ON a.node = s_suppkey
ORDER BY s_suppkey
"""
    return sql


Q_GRAPH_HITS_SQL = _hits_oracle_sql(_HITS_ITERATIONS)


def triangle_counts(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as (possibly directed, possibly duplicated) node
    pairs -> (node, deg, triangles, lcc) for every node in the edge set.

    Degree-oriented node-iterator (the MapReduce-triangles standard,
    Cohen 2009 / Suri-Vassilvitskii 2011): canonicalize edges, orient each
    from the (degree, id)-SMALLER endpoint to the larger, enumerate wedges
    by self-joining oriented edges on their source, and close each wedge
    against the oriented edge set. The orientation bounds every node's
    out-degree by O(sqrt(|E|)) regardless of hub skew — the id-ordered
    formulation (which the SQL oracle uses; identical triangle set) is
    quadratic in a hub's degree, the difference between a web-scale graph
    finishing and one reducer receiving the whole star. Three equi-joins,
    no iteration, one declarative plan.

    ``lcc = 2 * triangles / (deg * (deg - 1))`` — exact integer operands,
    one double division, bit-identical across engines."""
    a, b = F.col(a_col), F.col(b_col)
    und = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    annotated = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = annotated.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddst").alias("db")
    )
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddst").alias("dc")
    )
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(tcnt, "node", "left").select(
        "node",
        "deg",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            (F.lit(2) * F.coalesce("triangles", F.lit(0)))
            / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def q_graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-page triangle counts + local clustering coefficient of the crawl
    link graph: render pages with their cross-doc hyperlinks, extract hrefs
    back out of the raw HTML, parse the /doc/<id> targets, and run the
    degree-oriented triangle kernel — the graph-structure complement of
    q_link_graph_pagerank's centrality (triads measure COHESION: community
    density, spam-farm detection, feature for quality models)."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
    )
    out = triangle_counts(pairs, "doc_id", "target")
    return out.select(
        F.col("node").alias("doc_id"), "deg", "triangles", "lcc"
    ).orderBy("doc_id")


_TRIANGLE_PIPE_SQL = """
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
pages AS (
  SELECT doc_id,
         '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &mdash; ' || source
         || '</title><script>var pageId=' || CAST(doc_id AS VARCHAR)
         || ';track(pageId);</script><style>body{margin:0} p{font:14px serif}</style>'
         || '</head><body><nav><a href="/">home</a> <a href="/about">about</a></nav>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '<p>'
         || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
         || '</p>' || chr(10)
         || '<p>see also <a href="/doc/' || CAST((doc_id * 7 + 1) % (SELECT c FROM nn0) AS VARCHAR)
         || '">doc ' || CAST((doc_id * 7 + 1) % (SELECT c FROM nn0) AS VARCHAR)
         || '</a> and <a href="/doc/' || CAST((doc_id * 13 + 5) % (SELECT c FROM nn0) AS VARCHAR)
         || '">doc ' || CAST((doc_id * 13 + 5) % (SELECT c FROM nn0) AS VARCHAR)
         || '</a></p>'
         || '<footer>&copy; ' || source
         || ' &nbsp;<a href="/terms">terms</a></footer></body></html>' AS html
  FROM documents
),
hrefs AS (
  SELECT doc_id, unnest(regexp_extract_all(html, '<a href="([^"]+)"', 1)) AS href
  FROM pages
),
linkpairs AS (
  SELECT doc_id, TRY_CAST(regexp_extract(href, '^/doc/([0-9]+)$', 1) AS BIGINT) AS target
  FROM hrefs
  WHERE TRY_CAST(regexp_extract(href, '^/doc/([0-9]+)$', 1) AS BIGINT) IS NOT NULL
),
und AS (
  SELECT DISTINCT LEAST(doc_id, target) AS u, GREATEST(doc_id, target) AS v
  FROM linkpairs WHERE doc_id <> target
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (SELECT unnest([a, b, c]) AS node FROM tri),
tcnt AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY node),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
)
SELECT d.node AS doc_id, d.deg,
       COALESCE(t.triangles, 0) AS triangles,
       CASE WHEN d.deg >= 2
            THEN (2 * COALESCE(t.triangles, 0)) / (d.deg * (d.deg - 1))
            ELSE 0.0 END AS lcc
FROM deg d LEFT JOIN tcnt t ON d.node = t.node
ORDER BY doc_id
"""


def neighbor_jaccard_pairs(
    pairs: DataFrame, a_col: str, b_col: str, threshold: float
) -> DataFrame:
    """Structural node similarity (link prediction / role discovery):
    Jaccard of the two nodes' NEIGHBOR SETS over an undirected graph ->
    (node_a, node_b, common, jaccard) for pairs with >= ``threshold`` —
    nodes that link to the same places are interchangeable even when they
    never link to each other (the classic co-citation signal; feeds
    "similar pages", mirror detection, and graph-feature models).

    Candidates come from the co-neighbor wedge join (two edges into the
    same hub), counted once per unordered pair; degrees attach by
    broadcast-or-hash join and the exact ``c / (da + db - c)`` filter
    applies last. The wedge join is quadratic in hub degree — the same
    profile as :func:`triangle_counts`, and the same remedy applies at
    scale (cap or sample mega-hubs before the join; a node with a million
    neighbors makes every pair through it a candidate)."""
    a, b = F.col(a_col), F.col(b_col)
    und = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    a1 = adj.select(F.col("node").alias("node_a"), "nbr")
    a2 = adj.select(F.col("node").alias("node_b"), "nbr")
    common = (
        a1.join(a2, "nbr")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db"))
    jac = F.col("common") / (F.col("da") + F.col("db") - F.col("common"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .where(jac >= threshold)
        .select("node_a", "node_b", "common", F.round(jac, 4).alias("jaccard"))
    )


def q_graph_similar_pages(spark: SparkSession, sf: str) -> DataFrame:
    """Structurally-similar page pairs in the crawl link graph: neighbor-set
    Jaccard >= 0.25 over the symmetrized /doc link graph (the top band of this graph's similarity distribution — max observed 1/3) — "these pages
    occupy the same place in the web", the link-prediction complement of
    q_graph_triangles' cohesion measure."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
    )
    out = neighbor_jaccard_pairs(pairs, "doc_id", "target", threshold=0.25)
    return out.select(
        F.col("node_a").alias("doc_a"),
        F.col("node_b").alias("doc_b"),
        "common",
        "jaccard",
    ).orderBy("doc_a", "doc_b")


Q_GRAPH_SIMILAR_SQL = """
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
linkpairs AS (
  SELECT doc_id AS doc_a, (doc_id * 7 + 1) % (SELECT c FROM nn0) AS doc_b
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % (SELECT c FROM nn0) FROM documents
),
und AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM linkpairs WHERE doc_a <> doc_b
),
adj AS (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL
  SELECT v, u FROM und
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY node),
common AS (
  SELECT a.node AS node_a, b.node AS node_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY 1, 2
)
SELECT node_a AS doc_a, node_b AS doc_b, common,
       ROUND(common / (da.deg + db.deg - common), 4) AS jaccard
FROM common
JOIN deg da ON node_a = da.node
JOIN deg db ON node_b = db.node
WHERE common / (da.deg + db.deg - common) >= 0.25
ORDER BY doc_a, doc_b
"""


def kcore_nodes(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    k: int,
    rounds: int,
) -> DataFrame:
    """Nodes surviving ``rounds`` synchronous peels toward the k-core ->
    (node, deg) with deg the node's degree in the surviving subgraph —
    the density skeleton (spam farms and boilerplate rings live in deep
    cores; the periphery peels away). Each round removes every node whose
    CURRENT degree is < k, simultaneously; the truncation is part of the
    semantics (both engines compute exactly R rounds, converged or not).

    Unlike the pagerank/HITS loops — where each round references the
    previous ROUND's node-sized result once — a peel round references the
    previous adjacency THREE times (degree aggregate + both semi-join
    sides), so a lazily-unrolled plan replicates the base subtree 3^R
    times (measured: 6 lazy rounds ground Catalyst to a halt at 500
    nodes). Rounds therefore truncate lineage with ``localCheckpoint``,
    the :func:`~fsql_spark.operators.clustering.connected_components`
    loop posture: one edges-sized materialization per round, peeling
    shrinks it monotonically.

    The peel rounds run at the session's shuffle width: each round's
    aggregate and semi-joins work on the surviving subgraph, and adaptive
    execution coalesces their mostly-empty partitions."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1, got k={k} rounds={rounds}")
    a, b = F.col(a_col), F.col(b_col)
    und = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).localCheckpoint()

    for _ in range(rounds):
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("node")
        adj = adj.join(keep, "node", "left_semi").join(
            keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
        ).localCheckpoint()
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))


_KCORE_K = 4
_KCORE_ROUNDS = 3


def q_graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """The 4-core peel front of the crawl link graph after 3 synchronous
    peels (k=4 bites: degrees are 3-4, so the deg-3 fringe peels and the
    removals CASCADE — 500 -> 492 -> 476 -> 428 survivors, fully unraveling
    by round ~8; the 3-round truncation snapshots the cascade mid-flight,
    which is the monitorable quantity): surviving pages + in-peel degree — the dense center the
    spam/boilerplate auditors look at first."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
    )
    out = kcore_nodes(pairs, "doc_id", "target", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return out.select(F.col("node").alias("doc_id"), "deg").orderBy("doc_id")


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    sql = """
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
linkpairs AS (
  SELECT doc_id AS doc_a, (doc_id * 7 + 1) % (SELECT c FROM nn0) AS doc_b
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % (SELECT c FROM nn0) FROM documents
),
und AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM linkpairs WHERE doc_a <> doc_b
),
a0 AS (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und)"""
    for i in range(rounds):
        sql += f""",
k{i} AS (SELECT node FROM a{i} GROUP BY node HAVING COUNT(*) >= {k}),
a{i + 1} AS (
  SELECT a.node, a.nbr FROM a{i} a
  JOIN k{i} x ON a.node = x.node
  JOIN k{i} y ON a.nbr = y.node
)"""
    sql += f"""
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
FROM a{rounds} GROUP BY node
ORDER BY doc_id
"""
    return sql


Q_GRAPH_KCORE_SQL = _kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS)


def degree_assortativity(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph -> one row
    (n_edges, assortativity): the Pearson correlation of endpoint degrees
    over the directed edge set (Newman 2002) — positive means hubs link to
    hubs (social shape), negative means hubs link to leaves (web/biology
    shape); a crawl whose assortativity jumps snapshot-over-snapshot has
    changed its link structure (link farms, template rollouts).

    Both symmetric orientations of every edge enter the sums (the standard
    convention, making x/y moments equal). All five sums are EXACT integer
    aggregates of degree products; the correlation is one spelled-out
    float expression over them, so the result is bit-identical across
    engines. Two shuffles total (degree aggregate + the node-keyed degree
    attach); the final moment aggregate is map-side combinable into one
    row."""
    a, b = F.col(a_col), F.col(b_col)
    und = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    dx = deg.select(F.col("node").alias("node"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("nbr"), F.col("deg").alias("dy"))
    moments = (
        adj.join(dx, "node")
        .join(dy, "nbr")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("dx").alias("sx"),
            F.sum("dy").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        )
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (m * sxy - sx * sy) / F.sqrt(
        (m * sxx - sx * sx).cast("double") * (m * syy - sy * sy)
    )
    return moments.select(
        (m / 2).cast("long").alias("n_edges"), F.round(r, 4).alias("assortativity")
    )


def reciprocity(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Link reciprocity of a DIRECTED graph -> one row (n_links,
    reciprocity): the fraction of distinct directed links whose reverse
    link also exists — near 1 on social/follow graphs, near 0 on
    citation/web graphs; a crawl slice whose reciprocity spikes is usually
    a link ring. One distinct pass + one self-join on the swapped key,
    then BOTH counts ride a single aggregate (a separate 1-row-x-1-row
    combine would plan as the forbidden BroadcastNestedLoopJoin — the
    plan lint caught exactly that in this function's first draft); the
    ratio is a single division of exact BIGINTs."""
    links = (
        pairs.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = links.select(
        F.col("d").alias("s"), F.col("s").alias("d"), F.lit(1).alias("_m")
    )
    marked = links.join(rev, ["s", "d"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_links"),
        F.round(F.count("_m") / F.count(F.lit(1)), 4).alias("reciprocity"),
    )


def q_graph_reciprocity(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocity of the DIRECTED /doc link graph (before
    symmetrization) — the link-ring probe."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
    )
    return reciprocity(pairs, "doc_id", "target")


Q_GRAPH_RECIPROCITY_SQL = """
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
linkpairs AS (
  SELECT doc_id AS s, (doc_id * 7 + 1) % (SELECT c FROM nn0) AS d
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % (SELECT c FROM nn0) FROM documents
),
links AS (SELECT DISTINCT s, d FROM linkpairs WHERE s <> d),
rev AS (SELECT d AS s, s AS d, 1 AS m FROM links)
SELECT CAST(COUNT(*) AS BIGINT) AS n_links,
       ROUND(COUNT(r.m) / COUNT(*), 4) AS reciprocity
FROM links l LEFT JOIN rev r USING (s, d)
"""


def q_graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the crawl link graph — the one-number
    structural fingerprint tracked across snapshots."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select("doc_id", F.col("_target").cast("long").alias("target"))
    )
    return degree_assortativity(pairs, "doc_id", "target")


Q_GRAPH_ASSORT_SQL = """
WITH nn0 AS (SELECT COUNT(*) AS c FROM documents),
linkpairs AS (
  SELECT doc_id AS doc_a, (doc_id * 7 + 1) % (SELECT c FROM nn0) AS doc_b
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % (SELECT c FROM nn0) FROM documents
),
und AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM linkpairs WHERE doc_a <> doc_b
),
adj AS (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY node),
moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(dx.deg) AS sx, SUM(dy.deg) AS sy,
         SUM(dx.deg * dy.deg) AS sxy,
         SUM(dx.deg * dx.deg) AS sxx,
         SUM(dy.deg * dy.deg) AS syy
  FROM adj
  JOIN deg dx ON adj.node = dx.node
  JOIN deg dy ON adj.nbr = dy.node
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND((m * sxy - sx * sy)
             / SQRT(CAST(m * sxx - sx * sx AS DOUBLE) * (m * syy - sy * sy)), 4)
         AS assortativity
FROM moments
"""


GRAPH_QUERIES = {
    "q_graph_pagerank": q_graph_pagerank,
    "q_graph_assortativity": q_graph_assortativity,
    "q_graph_reciprocity": q_graph_reciprocity,
    "q_graph_ppr_segment": q_graph_ppr_segment,
    "q_link_graph_pagerank": q_link_graph_pagerank,
    "q_graph_hits_suppliers": q_graph_hits_suppliers,
    "q_graph_triangles": q_graph_triangles,
    "q_graph_similar_pages": q_graph_similar_pages,
    "q_graph_kcore": q_graph_kcore,
}
GRAPH_ORACLES = {
    "q_graph_pagerank": Q_GRAPH_PAGERANK_SQL,
    "q_graph_assortativity": Q_GRAPH_ASSORT_SQL,
    "q_graph_reciprocity": Q_GRAPH_RECIPROCITY_SQL,
    "q_graph_ppr_segment": Q_GRAPH_PPR_SQL,
    "q_link_graph_pagerank": Q_LINK_PAGERANK_SQL,
    "q_graph_hits_suppliers": Q_GRAPH_HITS_SQL,
    "q_graph_triangles": _TRIANGLE_PIPE_SQL,
    "q_graph_similar_pages": Q_GRAPH_SIMILAR_SQL,
    "q_graph_kcore": Q_GRAPH_KCORE_SQL,
}
