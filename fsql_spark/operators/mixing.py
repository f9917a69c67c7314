"""Data-mixing diagnostics: how DIFFERENT are the token distributions of
the corpus's sources/domains? A pretraining pipeline that mixes domains
(DoReMi, Pile-style weighted sampling) needs a cheap, monitorable distance
between domain unigram distributions — to pick mixing weights, to detect a
crawl slice drifting between snapshots, and to flag a "new" source that is
really a near-copy of an existing one.

The metric is Jensen–Shannon divergence over the corpus-wide top-K token
vocabulary, renormalized per source within the kept vocabulary. JSD (unlike
KL) is symmetric, finite even with disjoint support, and bounded by ln 2 —
the right shape for a dashboard. Restricting to a shared top-K makes the
distributions comparable metadata-sized objects (the same cut every
tokenizer-training pipeline applies) instead of corpus-sized tails.

Scale shape (the 100 TB story):

- the ONLY corpus-scale work is the (source, token) count — one map-side
  combinable aggregate fed by the zero-shuffle
  :func:`~fsql_spark.operators.vocab.term_frequencies` kernel keyed by
  source (a batch's rows collapse locally; the exchange carries collapsed
  counts, bounded by sources x distinct-tokens, NOT by corpus rows);
- everything after the count is vocabulary-sized metadata: the top-K cut,
  per-source totals, and the pairwise self-join all operate on at most
  (sources x K) rows, so the joins broadcast and the pair aggregate is
  driver-trivial. At 1000 sources x K=50 that is 50k rows — nothing.

Zero-handling is exact without densifying: for tokens held by only one
side, the JSD term is ``p * ln 2``, so the inner join computes the shared
core and the missing mass enters in closed form as
``0.5 * ln2 * ((1 - P_shared) + (1 - Q_shared))`` — no sources-x-vocab
cross join (which the plan lint would rightly reject as CartesianProduct).

No reference counterpart (the reference delegates row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .vocab import term_frequencies


def group_token_counts(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """(group, token, tf) — the ONE corpus-scale aggregate of this module
    (map-side combinable; the zero-shuffle per-batch kernel already emits
    collapsed pairs). Callers that consume it more than once should
    ``.persist()`` it and pass it back via ``counts=`` — the tf= convention
    of :func:`~fsql_spark.operators.lm.unigram_model`. The input is spread
    first (no-op on an already-parallel source): the tokenize kernel is
    CPU-bound Python, and a few-partition scan would serialize it."""
    from .dedup import _spread

    return (
        term_frequencies(_spread(df.select(group_col, text_col)),
                         id_col=group_col, text_col=text_col)
        .groupBy(group_col, "token")
        .agg(F.sum("tf").alias("tf"))
    )


def source_token_probabilities(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 50,
    counts: DataFrame | None = None,
) -> DataFrame:
    """(group, token, p) — each group's unigram distribution over the
    corpus-wide top-``top_k`` tokens (by total tf, ties broken lexically),
    renormalized within the kept vocabulary so each group's p sums to 1.

    One corpus-scale exchange (the collapsed (group, token) counts); the
    vocabulary cut and the totals join are metadata-sized broadcasts."""
    tf = counts if counts is not None else group_token_counts(df, group_col, text_col)
    vocab = (
        tf.groupBy("token")
        .agg(F.sum("tf").alias("total_tf"))
        .orderBy(F.desc("total_tf"), "token")
        .limit(top_k)
        .select("token")
    )
    kept = tf.join(F.broadcast(vocab), "token")
    totals = kept.groupBy(group_col).agg(F.sum("tf").alias("_total"))
    return (
        kept.join(F.broadcast(totals), group_col)
        .select(group_col, "token", (F.col("tf") / F.col("_total")).alias("p"))
    )


def source_js_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 50,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between group token distributions:
    ``(group_a, group_b, shared_tokens, js_divergence)`` for every unordered
    pair sharing >= 1 top-K token (a pair with NO shared token has JSD
    identically ln 2 and is absent — same inner-join convention in the SQL
    oracle, and unreachable in practice once K exceeds the stop-word band).

    Exact sparse formulation: the inner join on token yields the shared
    terms ``p ln(2p/(p+q)) + q ln(2q/(p+q))``; each side's unshared mass
    contributes ``ln 2`` per unit, recovered from the shared-mass sums in
    closed form. Result is in [0, ln 2]."""
    p = source_token_probabilities(df, group_col, text_col, top_k, counts=counts)
    a = p.select(
        F.col(group_col).alias("group_a"), "token", F.col("p").alias("pa")
    )
    b = p.select(
        F.col(group_col).alias("group_b"), "token", F.col("p").alias("pb")
    )
    shared = a.join(F.broadcast(b), "token").where(F.col("group_a") < F.col("group_b"))
    core = (
        F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    return (
        shared.select("group_a", "group_b", core.alias("_core"), "pa", "pb")
        .groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_tokens"),
            F.sum("_core").alias("_c"),
            F.sum("pa").alias("_pa"),
            F.sum("pb").alias("_pb"),
        )
        .select(
            "group_a",
            "group_b",
            "shared_tokens",
            (
                0.5 * F.col("_c")
                + 0.5 * math.log(2.0) * (2.0 - F.col("_pa") - F.col("_pb"))
            ).alias("js_divergence"),
        )
    )


# --------------------------------------------------------------------------
# catalog entry + oracle
# --------------------------------------------------------------------------

_TOP_K = 50


def _q_source_js_frame(spark: SparkSession, sf: str, counts: DataFrame | None = None) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return (
        source_js_divergence(docs, group_col="source", top_k=_TOP_K, counts=counts)
        .select(
            F.col("group_a").alias("source_a"),
            F.col("group_b").alias("source_b"),
            "shared_tokens",
            F.round("js_divergence", 4).alias("js_divergence"),
        )
        .orderBy("source_a", "source_b")
    )


def q_source_js_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise JSD between the documents table's source slices over the
    corpus top-50 vocabulary — the domain-mixing distance matrix.

    The pairwise self-join references the (source, token) count stream six
    times in one plan, so without help the corpus-scale tokenize+aggregate
    runs six times. The top-K cut ``kept`` (<= sources x K rows — 50k at
    1000 sources, the documented bound) DETERMINES everything after it:
    persisting THAT, materialized while the corpus-sized count cache is
    still alive, leaves the corpus scanned twice (vocab + filter) and the
    six downstream references reading a kilobytes-sized cached relation.
    r14 collected ``kept`` to the driver and re-fed it as a local table;
    a paired A/B showed the driver round-trip +
    local-plan jobs LOSING to a distributed persist of the same cut
    (med 2.19 s vs 3.63/3.25 for the r14/r13 shapes), and at 100 TB the
    collect is exactly the driver-materialization anti-pattern (guide §5).
    The small cache lives as long as the returned DataFrame (the
    dedup_incremental_bloom precedent — the result depends on it); a
    session looping over many corpora should ``clearCache()`` between
    them. ``lint_target`` exposes the distributed plan to the lint."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    counts = group_token_counts(docs, "source").persist()
    try:
        vocab = (
            counts.groupBy("token")
            .agg(F.sum("tf").alias("total_tf"))
            .orderBy(F.desc("total_tf"), "token")
            .limit(_TOP_K)
            .select("token")
        )
        # sources x K rows: one partition keeps every downstream exchange
        # of this metadata-sized side trivial
        kept = counts.join(F.broadcast(vocab), "token").coalesce(1).persist()
        kept.count()  # materialize before releasing the corpus cache
    finally:
        counts.unpersist()
    return _q_source_js_frame(spark, sf, counts=kept)


q_source_js_divergence.lint_target = _q_source_js_frame


Q_SOURCE_JS_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY source, token
),
vocab AS (
  SELECT token FROM (
    SELECT token, SUM(tf) AS total_tf FROM tf GROUP BY token
    ORDER BY total_tf DESC, token LIMIT {_TOP_K}
  )
),
kept AS (SELECT tf.source, tf.token, tf.tf FROM tf JOIN vocab USING (token)),
tot AS (SELECT source, SUM(tf) AS _total FROM kept GROUP BY source),
p AS (
  SELECT k.source, k.token, k.tf / t._total AS p
  FROM kept k JOIN tot t USING (source)
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_tokens,
         SUM(a.p * LN(2.0 * a.p / (a.p + b.p))
             + b.p * LN(2.0 * b.p / (a.p + b.p))) AS _c,
         SUM(a.p) AS _pa, SUM(b.p) AS _pb
  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, shared_tokens,
       ROUND(0.5 * _c + 0.5 * LN(2.0) * (2.0 - _pa - _pb), 4) AS js_divergence
FROM pairs ORDER BY source_a, source_b
"""


def keyness_terms(
    counts: DataFrame,
    total_tokens: int,
    group_col: str = "source",
) -> DataFrame:
    """Dunning log-likelihood (G2) keyness of every (group, token) present
    in the group vs the REST of the corpus -> (group, token, tf, g2),
    overrepresented terms only (observed rate in the group above the
    corpus rate) — the standard "what words characterize this domain"
    statistic (Dunning 1993), more robust than raw ratios for rare terms.

    ``counts`` is the (group, token, tf) output of
    :func:`group_token_counts`; ``total_tokens`` the corpus token count
    (callers take it from one scalar aggregate action). Everything after
    the count stream is metadata-sized: per-token totals and per-group
    totals broadcast into the scoring projection — no second corpus pass.
    Expected counts use double arithmetic ((ns * tot) / N overflows BIGINT
    at corpus scale)."""
    tok_tot = counts.groupBy("token").agg(F.sum("tf").alias("tot"))
    grp_tot = counts.groupBy(group_col).agg(F.sum("tf").alias("ns"))
    n = float(total_tokens)
    joined = counts.join(F.broadcast(tok_tot), "token").join(
        F.broadcast(grp_tot), group_col
    )
    a = F.col("tf")
    b = F.col("tot") - a
    ns = F.col("ns")
    no = F.lit(n) - ns
    ea = (ns.cast("double") * F.col("tot")) / F.lit(n)
    eb = (no * F.col("tot")) / F.lit(n)
    term_a = a * F.log(a / ea)
    term_b = F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    over = (a / ns) > (F.col("tot") / F.lit(n))
    return (
        joined.where(over)
        .select(
            group_col,
            "token",
            a.alias("tf"),
            (2.0 * (term_a + term_b)).alias("g2"),
        )
    )


def zipf_slopes(counts: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-group Zipf slope: the least-squares slope of ln(tf) against
    ln(rank) over the group's frequency-ranked vocabulary ->
    (group, n_tokens, slope). Natural text sits near -1; a slice whose
    slope collapses toward 0 is template/boilerplate-heavy and one that
    steepens is repetitive spam — a one-number corpus-health probe per
    source/snapshot.

    Rank is a per-group window (ties broken lexically); the regression is
    computed from explicit sums with ONE spelled-out expression
    ``(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)`` so the SQL oracle replicates the
    exact float op order instead of trusting two engines' regr_slope
    internals to agree."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.desc("tf"), "token")
    ranked = counts.withColumn("rnk", F.row_number().over(w)).select(
        group_col,
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("tf").cast("double")).alias("y"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        group_col, F.col("n").cast("long").alias("n_tokens"), slope.alias("slope")
    )


def _q_keyness_frame(
    spark: SparkSession, sf: str, counts: DataFrame | None = None
) -> DataFrame:
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    counts = counts if counts is not None else group_token_counts(docs, "source")
    total = counts.agg(F.sum("tf")).collect()[0][0]
    scored = keyness_terms(counts, total, "source")
    w = Window.partitionBy("source").orderBy(F.desc("g2"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("source", "token", "tf", F.round("g2", 4).alias("g2"), "rnk")
        .orderBy("source", "rnk")
    )


def q_keyness_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 Dunning-G2 keywords per source vs the rest of the corpus —
    the domain-characterization report. The count stream feeds both the
    scalar total and the scoring join, so it is persisted for the call
    (the q_source_js_divergence pattern); the result is sources x 3 rows,
    materialized driver-side to release the cache."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    counts = group_token_counts(docs, "source").persist()
    try:
        out = _q_keyness_frame(spark, sf, counts=counts)
        pdf = out.toPandas()  # sources x 3 rows of 5 scalars
    finally:
        counts.unpersist()
    return spark.createDataFrame(pdf, schema=out.schema)


q_keyness_terms.lint_target = _q_keyness_frame


Q_KEYNESS_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY source, token
),
tok_tot AS (SELECT token, SUM(tf) AS tot FROM tf GROUP BY token),
grp_tot AS (SELECT source, SUM(tf) AS ns FROM tf GROUP BY source),
n AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM tf),
scored AS (
  SELECT tf.source, tf.token, tf.tf,
         2.0 * (tf.tf * LN(tf.tf / ((CAST(g.ns AS DOUBLE) * t.tot) / (SELECT n FROM n)))
                + CASE WHEN t.tot - tf.tf > 0
                       THEN (t.tot - tf.tf)
                            * LN((t.tot - tf.tf)
                                 / ((((SELECT n FROM n) - g.ns) * t.tot) / (SELECT n FROM n)))
                       ELSE 0.0 END) AS g2
  FROM tf JOIN tok_tot t USING (token) JOIN grp_tot g USING (source)
  WHERE (tf.tf / g.ns) > (t.tot / (SELECT n FROM n))
),
ranked AS (
  SELECT source, token, tf, g2,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY g2 DESC, token) AS rnk
  FROM scored
)
SELECT source, token, tf, ROUND(g2, 4) AS g2, rnk
FROM ranked WHERE rnk <= 3
ORDER BY source, rnk
"""


def q_zipf_slopes(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Zipf slope of the token frequency-rank curve (4dp) — the
    one-number 'does this slice look like natural text' probe."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    counts = group_token_counts(docs, "source")
    out = zipf_slopes(counts, "source")
    return out.select(
        "source", "n_tokens", F.round("slope", 4).alias("zipf_slope")
    ).orderBy("source")


Q_ZIPF_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY source, token
),
ranked AS (
  SELECT source,
         LN(CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY tf DESC, token) AS DOUBLE)) AS x,
         LN(CAST(tf AS DOUBLE)) AS y
  FROM tf
),
sums AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM ranked GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_tokens,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM sums ORDER BY source
"""


MIXING_QUERIES = {
    "q_source_js_divergence": q_source_js_divergence,
    "q_keyness_terms": q_keyness_terms,
    "q_zipf_slopes": q_zipf_slopes,
}
MIXING_ORACLES = {
    "q_source_js_divergence": Q_SOURCE_JS_SQL,
    "q_keyness_terms": Q_KEYNESS_SQL,
    "q_zipf_slopes": Q_ZIPF_SQL,
}
