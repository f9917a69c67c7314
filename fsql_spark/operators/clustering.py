"""Near-dup cluster resolution: connected components over a pair relation.

Pair-level dedup (``jaccard_pairs`` / ``minhash_lsh_pairs`` / ``simhash_pairs``
/ ``embedding_near_dup_*``) emits EDGES; a training pipeline must then keep
one representative per connected CLUSTER — A~B and B~C must collapse to one
doc even when A~C was never emitted. This module closes that gap.

Scale design: iterative min-label propagation on the PAIR graph only —
|pairs| ~ O(duplicates), typically orders of magnitude smaller than the
corpus, so the loop's joins are narrow. Each round is one join + one
aggregate (2 shuffles) on (node, label) pairs; rounds needed = graph diameter
(near-dup clusters are dense, diameter is small — single digits in practice).
Lineage is truncated every round with ``localCheckpoint`` so the plan does
not grow unboundedly (the classic iterative-Spark failure). Convergence is
detected by the count of labels that changed (one action per round —
deliberate: at 100 TB the loop runs on the slim pair table, not the corpus).
For adversarial long-chain graphs, ``max_iterations`` bounds the loop and
raises rather than silently returning partial components.

No reference counterpart (the reference delegates all row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6). Oracle: DuckDB ``WITH RECURSIVE`` transitive closure
computes the identical min-reachable-key labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ComponentsNotConverged(RuntimeError):
    """Label propagation hit max_iterations before reaching a fixpoint."""


#: width of the iterative graph loops here and in :mod:`.graph` that re-read
#: an edge cache: the pair/node graph is orders of magnitude smaller than the
#: corpus, so a corpus-sized session width would launch a task per
#: mostly-empty partition per round. Each loop carries it in its own plan
#: (the cache is repartitioned to it before it is persisted), never in a
#: session conf, which every other client of the session would see.
LOOP_WIDTH = 8


def connected_components(
    pairs: DataFrame,
    key_a: str = "doc_a",
    key_b: str = "doc_b",
    max_iterations: int = 25,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``; cluster_id is
    the MINIMUM key reachable from the node — deterministic, stable across
    cluster layouts and restarts.

    Min-label propagation: every node starts labeled with itself; each round
    every node takes the min of its own and its neighbors' labels. Labels
    only ever decrease, so the fixpoint is exactly the per-component min key.
    Nodes not mentioned in ``pairs`` (singletons) are absent from the output
    by design — callers union them back as their own representatives (see
    :func:`cluster_representatives`).

    Two execution paths, chosen by measured edge count (the edge table is
    already persisted for the loop, so the count is one cheap action):

    - ``<= driver_edge_threshold`` edges: union-find on the driver
      (path-compressed, O(E α(E))). The pair graph of a dedup run is
      O(duplicates) — orders of magnitude smaller than the corpus — so even
      a 100 TB corpus typically yields an edge list of MBs. A driver pass
      beats 4-6 distributed jobs PER ROUND of the loop by ~10x wall clock
      and occupies zero executors; this is the same candidate-pairs-are-
      small insight the LSH operators exploit.
    - larger graphs: the distributed pointer-jumping loop below, whose
      per-round cost is what the threshold is protecting against.

    The edge table is hash-partitioned at :data:`LOOP_WIDTH` by ``dst``,
    the key every round joins the labels on, before it is deduplicated and
    cached: the distinct, the probe collect and each round's scan of the
    edges then run at that width, whatever the session's corpus-sized
    ``spark.sql.shuffle.partitions``. The rounds' aggregates shuffle at
    the session width, which adaptive execution coalesces."""
    edges = pairs.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
    # symmetric closure: propagation must flow both directions
    edges = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.repartition(LOOP_WIDTH, "dst").distinct().persist()

    # ONE action decides the path AND fetches the small graph: limit(t+1)
    # either returns the complete edge list (<= t rows) or proves it's big.
    # (A separate count + toLocalIterator costs a job per partition.)
    head = edges.limit(driver_edge_threshold + 1).collect()
    if len(head) <= driver_edge_threshold:
        try:
            return _cc_driver(pairs.sparkSession, edges.schema, head)
        finally:
            edges.unpersist()

    return _cc_loop(edges, max_iterations)


def _cc_driver(spark: SparkSession, edge_schema, rows: list) -> DataFrame:
    """Path-compressed union-find over a collected edge list. Identical
    output contract to the loop: (node, cluster_id = min reachable key)."""
    from pyspark.sql.types import StructField, StructType

    key_type = edge_schema["src"].dataType
    schema = StructType(
        [StructField("node", key_type), StructField("cluster_id", key_type)]
    )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    min_label: dict = {}
    for node in parent:
        root = find(node)
        cur = min_label.get(root)
        if cur is None or node < cur:
            min_label[root] = node
    out = [(node, min_label[find(node)]) for node in parent]
    return spark.createDataFrame(out, schema)


def _cc_loop(edges: DataFrame, max_iterations: int) -> DataFrame:
    # seed with min(self, neighbors) — the first propagation round for free
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label")
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label", F.lit(None).cast("boolean").alias("own")
        )
        # the convergence check rides the SAME aggregate: tagging the
        # labels-side rows lets max(when(own, label)) recover each node's
        # previous label alongside the new min — the old-vs-new diff then
        # scans the checkpointed output instead of running a second
        # node-keyed join job per round (measured A/B in PERF.md r11).
        # Every node of nbr is in labels (both seed from edges.src), and
        # each node appears in labels exactly once, so the max() IS the
        # previous label.
        propagated = (
            labels.select("node", "label", F.lit(True).alias("own"))
            .union(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("own"), F.col("label"))).alias("prev"),
            )
        )
        # pointer jumping: label <- label(label). Halves the remaining chain
        # length every round, so convergence is O(log diameter) instead of
        # O(diameter) — the difference between 7 and 10^6 rounds on an
        # adversarial chain. Every label IS a node key (mins of node keys),
        # so the self-join always resolves; coalesce is belt-and-braces.
        jump = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        new_labels = (
            propagated.join(jump, "label", "left")
            .select("node", F.coalesce("label2", "label").alias("label"), "prev")
        ).localCheckpoint()  # truncate lineage: plans must not grow per round
        # scan-only job over the checkpointed partitions — no join, no shuffle
        changed = new_labels.where(F.col("label") != F.col("prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            edges.unpersist()
            return labels.select("node", F.col("label").alias("cluster_id"))
    edges.unpersist()
    raise ComponentsNotConverged(
        f"connected_components did not converge in {max_iterations} rounds — "
        "the pair graph has a longer chain than expected; raise max_iterations"
    )


def cluster_representatives(
    df: DataFrame,
    key_col: str,
    components: DataFrame,
) -> DataFrame:
    """Keep one row per cluster (the min-key member) plus every singleton.

    ``components`` is the (node, cluster_id) output of
    :func:`connected_components`. A row survives unless its key appears in
    components with ``node != cluster_id`` — i.e. drop non-representative
    members, keep representatives and untouched rows. One anti-join against
    the slim members table (broadcastable whenever duplicates are rare)."""
    losers = components.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(key_col)
    )
    return df.join(losers, key_col, "left_anti")


# --------------------------------------------------------------------------
# catalog entries + oracles
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the near-dup pair graph, pair source =
    banded MinHash-LSH over the FULL corpus — the 100 TB wiring (no
    quadratic stage, no corpus cap; candidates ~ true dups). The LSH output
    is exact-verified, and at J >= 0.95 the 16x4 banding misses a qualifying
    pair with p ~ 2e-12, so the recursive-CTE oracle over the exact
    3-gram-Jaccard pair graph is an equality check, not an approximation.

    Signatures come from the materialized compute-once table
    (``corpus_signatures_cached``) shared with the q_minhash_* entries — at
    100 TB you never hash the corpus twice just to change the question you
    ask of the pair graph."""
    from .dedup import corpus_signatures_cached, minhash_lsh_pairs

    sigs = corpus_signatures_cached(spark, sf, num_hashes=64, ngram=3)
    pairs = minhash_lsh_pairs(
        None, "doc_id", "text", threshold=0.95, num_hashes=64, bands=16, ngram=3, sigs=sigs
    )
    comps = connected_components(pairs)
    return comps.select(F.col("node").alias("doc_id"), "cluster_id")


Q_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(ws[i:i+2], chr(1)) for i in range(1, len(ws) - 1)])) AS w
  FROM words WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pair AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes s1 ON doc_a = s1.doc_id
  JOIN sizes s2 ON doc_b = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.95
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pair
  UNION
  SELECT doc_b, doc_a FROM pair
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
"""


def q_dedup_representatives(spark: SparkSession, sf: str) -> DataFrame:
    """The END USE of the cluster flow: drop every non-representative
    near-dup cluster member, keep min-key representatives + singletons,
    audited per language. Same cached signature table and pair graph as
    q_dedup_clusters (computed once, two questions asked of it); the member
    drop is one broadcastable anti-join against the slim losers set."""
    from .dedup import corpus_signatures_cached, minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sigs = corpus_signatures_cached(spark, sf, num_hashes=64, ngram=3)
    pairs = minhash_lsh_pairs(
        None, "doc_id", "text", threshold=0.95, num_hashes=64, bands=16, ngram=3, sigs=sigs
    )
    comps = connected_components(pairs)
    reps = cluster_representatives(docs, "doc_id", comps)
    return (
        reps.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


Q_DEDUP_REPRESENTATIVES_SQL = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(ws[i:i+2], chr(1)) for i in range(1, len(ws) - 1)])) AS w
  FROM words WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pair AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes s1 ON doc_a = s1.doc_id
  JOIN sizes s2 ON doc_b = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.95
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pair
  UNION
  SELECT doc_b, doc_a FROM pair
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
),
losers AS (
  SELECT node FROM reach GROUP BY node HAVING node <> MIN(lbl)
)
SELECT lang,
       COUNT(*)                     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.node = d.doc_id)
GROUP BY lang
ORDER BY lang
"""


def q_link_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components of the crawl link graph on the DISTRIBUTED
    pointer-jumping path (``driver_edge_threshold=0`` forces the loop the
    big-graph regime uses — the other cluster entries take the union-find
    fast path, so without this entry the loop would run only in unit
    tests, never under the driver's bench): extract /doc/<id> hrefs from
    the rendered pages, symmetrize, min-label-propagate with pointer
    jumping to a fixpoint. Output is every page's component id (the min
    reachable doc_id) — crawl-frontier partitioning / site clustering."""
    from .html import documents_as_html, extract_links

    pages = documents_as_html(spark, sf, cross_links=True)
    links = extract_links(pages, "html")
    pairs = (
        links.select(
            "doc_id",
            F.regexp_extract("href", "^/doc/([0-9]+)$", 1).alias("_target"),
        )
        .where(F.col("_target") != "")
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("_target").cast("long").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    comps = connected_components(pairs, driver_edge_threshold=0)
    return comps.select(F.col("node").alias("doc_id"), "cluster_id").orderBy("doc_id")


Q_LINK_COMPONENTS_SQL = """
WITH RECURSIVE nn0 AS (SELECT COUNT(*) AS c FROM documents),
linkpairs AS (
  SELECT doc_id AS doc_a, (doc_id * 7 + 1) % (SELECT c FROM nn0) AS doc_b
  FROM documents
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % (SELECT c FROM nn0) FROM documents
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM linkpairs WHERE doc_a <> doc_b
  UNION
  SELECT doc_b, doc_a FROM linkpairs WHERE doc_a <> doc_b
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
ORDER BY doc_id
"""


CLUSTERING_QUERIES = {
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_representatives": q_dedup_representatives,
    "q_link_graph_components": q_link_graph_components,
}

CLUSTERING_ORACLES = {
    "q_dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "q_dedup_representatives": Q_DEDUP_REPRESENTATIVES_SQL,
    "q_link_graph_components": Q_LINK_COMPONENTS_SQL,
}
