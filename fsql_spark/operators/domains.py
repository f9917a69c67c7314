"""URL/domain-level crawl curation — the RefinedWeb / C4 recipe: group
pages by registered domain, audit per-domain volume and duplication, and
cap how many pages any one domain contributes to the corpus (a handful
of mega-domains otherwise dominate a crawl; RefinedWeb and C4 both apply
per-host caps and blocklists before content-level filtering).

Operators:

- :func:`parse_domain` — URL -> (host, registered domain) as pure
  Catalyst regex expressions (map-only; the two-label registered-domain
  heuristic — a public-suffix list lookup in production swaps in here).
- :func:`domain_stats` — per-domain volume/duplication aggregate (one
  map-side-combined shuffle).
- :func:`topk_per_group` — EXACT k-smallest rows per group. A
  rank-filtered window looks like the paragraph-dedup failure mode (a
  mega-domain on ONE task), but on this engine it is NOT: Catalyst
  rewrites ``row_number() <= k`` into ``WindowGroupLimit Partial``
  BEFORE the exchange — a map-side per-group top-k, so a 10^8-page
  domain ships <= k rows per mapper — plus a ``Final`` pass after. A
  hand-salted two-phase variant was built, A/B'd, and REJECTED: it
  re-implements exactly what the optimizer already does and pays an
  extra exchange + sort for it (2.70 vs 1.03 s on 20M rows with one
  group holding 10^7, k=20, salt=32; a rerun gave 2.71 vs 0.98 s). A
  plan-pinning test asserts the Partial limit stays in the plan, since
  the rewrite is gated on ``spark.sql.window.group.limit.threshold``.
  (:func:`~fsql_spark.operators.sampling.sample_per_group` is the
  pseudo-random-order cousin.)
- :func:`domain_cap` — the curation step itself: keep at most ``cap``
  pages per domain, deterministically.

No reference counterpart (the reference delegates row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def parse_domain(url: Column | str) -> tuple[Column, Column]:
    """(host, registered_domain) from a URL column: host = authority minus
    userinfo/port, lowercased; registered domain = the last two dot-labels
    (heuristic — production swaps in a public-suffix list, same column
    contract). Bare hosts (no scheme) and IPs fall through sanely: an IP
    'registers' as its last two octets, which still groups consistently."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(
        F.regexp_extract(u, r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    )
    reg = F.when(
        host.rlike(r"[^.]+\.[^.]+$"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
    ).otherwise(host)
    return host, reg


def domain_stats(df: DataFrame, domain_col: str, text_col: str) -> DataFrame:
    """Per-domain curation dashboard: page count, total chars, distinct
    texts, and the exact-duplicate fraction (1 - distinct/total, 4dp) —
    the numbers a per-domain blocklist/cap decision reads. One map-side-
    combined aggregate; nothing wider than the domain key shuffles."""
    return (
        df.groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length(text_col)).alias("total_chars"),
            F.countDistinct(text_col).alias("n_distinct_texts"),
        )
        .select(
            domain_col,
            "n_pages",
            "total_chars",
            "n_distinct_texts",
            F.round(
                1 - F.col("n_distinct_texts") / F.col("n_pages"), 4
            ).alias("dup_fraction"),
        )
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    k: int,
) -> DataFrame:
    """EXACT k smallest rows per group under the (ascending, total) order
    given by ``order_cols`` — skew-proof. ``order_cols`` must be a total
    order within each group (include a unique tiebreaker key), otherwise
    which of the tied boundary rows survive is nondeterministic.

    Plan shape: ``row_number() <= k`` triggers Catalyst's rank-limit
    pushdown — ``WindowGroupLimit Partial`` runs BEFORE the exchange
    (map-side per-group top-k: a mega-group contributes <= k rows per
    mapper to the shuffle) and ``Final`` caps the merged survivors, so
    the hot group's reduce task sees <= k * n_mappers rows, never 10^8.
    A hand-salted two-phase formulation was A/B'd and rejected — it
    duplicates this pushdown and pays an extra exchange + sort (2.70 vs
    1.03 s on 20M rows, one group at 10^7; PERF.md r14). The pushdown is
    gated on ``spark.sql.window.group.limit.threshold``; a plan test
    pins the Partial node so a conf/engine regression fails loudly."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` pages per domain — deterministically the
    ``cap`` lowest ``key_col`` values (crawl order / discovery order in
    production; rank by a quality score instead by pre-sorting the key).
    The RefinedWeb-style contribution cap, skew-proof via
    :func:`topk_per_group`."""
    return topk_per_group(df, domain_col, [key_col], cap)


# --------------------------------------------------------------------------
# catalog entries + oracles
# --------------------------------------------------------------------------

#: deterministic synthetic URL per document: ~30 REGISTERED domains
#: (site<N>.com — the registrable label varies, so the two-label parse
#: yields distinct domains) with strongly skewed sizes
#: (floor(sqrt(doc_id % 900)) masses high indices — site29.com holds
#: ~59/900 of docs, site0.com 1/900), a www subdomain on even doc_ids
#: (host != registered domain for half the corpus), and a path. Exactly
#: replayable in SQL.
def _doc_url() -> Column:
    dom = F.floor(F.sqrt(F.pmod(F.col("doc_id"), F.lit(900)))).cast("long")
    sub = F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit("www.")).otherwise(
        F.lit("")
    )
    return F.concat(
        F.lit("https://"),
        sub,
        F.lit("site"),
        dom.cast("string"),
        F.lit(".com/"),
        F.col("source"),
        F.lit("/page/"),
        F.col("doc_id").cast("string"),
    )


_URL_SQL = (
    "'https://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END || "
    "'site' || CAST(CAST(floor(sqrt(doc_id % 900)) AS BIGINT) AS VARCHAR) || "
    "'.com/' || source || '/page/' || CAST(doc_id AS VARCHAR)"
)


def q_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain curation dashboard over the documents table with
    synthetic deterministic URLs: URL parse (host vs registered domain —
    the www. split exercises the two-label heuristic) + volume/dup
    aggregate."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    host, reg = parse_domain(_doc_url())
    pages = docs.select("doc_id", "text", reg.alias("domain"))
    return domain_stats(pages, "domain", "text").orderBy("domain")


Q_DOMAIN_STATS_SQL = f"""
WITH hosts AS (
  SELECT doc_id, text,
         lower(regexp_extract({_URL_SQL},
           '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
  FROM documents
),
pages AS (
  SELECT doc_id, text,
         CASE WHEN regexp_matches(host, '[^.]+\\.[^.]+$')
              THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
              ELSE host END AS domain
  FROM hosts
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
       ROUND(1 - COUNT(DISTINCT text) * 1.0 / COUNT(*), 4) AS dup_fraction
FROM pages
GROUP BY domain
ORDER BY domain
"""


def q_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Cap every domain's contribution at 20 pages (lowest doc_id first —
    crawl order) via the rank-limit-pushdown exact top-k; report
    survivors as (domain, doc_id) plus the host so the parse is
    value-checked too."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    host, reg = parse_domain(_doc_url())
    pages = docs.select("doc_id", host.alias("host"), reg.alias("domain"))
    return domain_cap(pages, "domain", "doc_id", cap=20).select(
        "domain", "doc_id", "host"
    ).orderBy("domain", "doc_id")


Q_DOMAIN_CAP_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         lower(regexp_extract({_URL_SQL},
           '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
  FROM documents
),
domains AS (
  SELECT doc_id, host,
         CASE WHEN regexp_matches(host, '[^.]+\\.[^.]+$')
              THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
              ELSE host END AS domain
  FROM pages
),
ranked AS (
  SELECT doc_id, host, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
  FROM domains
)
SELECT domain, doc_id, host
FROM ranked
WHERE rn <= 20
ORDER BY domain, doc_id
"""


DOMAIN_QUERIES = {
    "q_domain_stats": q_domain_stats,
    "q_domain_cap": q_domain_cap,
}

DOMAIN_ORACLES = {
    "q_domain_stats": Q_DOMAIN_STATS_SQL,
    "q_domain_cap": Q_DOMAIN_CAP_SQL,
}
