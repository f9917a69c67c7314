"""Text-analysis operators for LLM-data pipelines: token counting, language
ID, quality scoring, document fingerprinting.

Everything here is pure ``pyspark.sql.functions`` composition — JVM-side,
whole-stage-codegen'd, no Python in the row loop — so each operator scales to
100 TB as a plain map over the documents table (no shuffle at all). Each has
an exact DuckDB-SQL twin (same expressions) for the driver's oracle gate.

These ops have no counterpart in the reference (fsql delegates all row
compute to pandas, `/root/reference/src/fsql/deser.py:30-31`); they are the
driver-mandated extension surface (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import shuffle_width

# language-marker stopwords: tiny, deterministic n-gram-style heuristic.
# Word-boundary regexes keep Spark (Java regex) and DuckDB (RE2) agreeing.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is)\b",
    "de": r"\b(der|die|und|das|ist)\b",
    "fr": r"\b(le|la|et|les|est)\b",
    "es": r"\b(el|los|que|de la|es)\b",
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count (split-based, matching DuckDB string_split)."""
    return F.size(F.split(col, " "))


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-flavored upper estimate: word pieces + punctuation + digit runs.

    ~chars/4 heuristics underestimate code/punct-heavy text; counting regex
    pieces (letter runs, digit runs, single punct) tracks real tokenizers
    more closely while staying JVM-side."""
    return F.size(F.regexp_extract_all(F.col(col) if isinstance(col, str) else col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def avg_token_len(col: Column | str) -> Column:
    n = token_count(col)
    return (F.length(col) - n + 1) / n


def marker_count(col: Column | str, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(F.col(col) if isinstance(col, str) else col, F.lit(pattern), F.lit(0)))


def lang_id(col: Column | str) -> Column:
    """Deterministic argmax over language-marker counts; 'und' when no
    markers hit. Ties resolve in fixed en>de>fr>es order (mirrored in SQL)."""
    counts = {lang: marker_count(col, pat) for lang, pat in LANG_MARKERS.items()}
    en, de, fr, es = counts["en"], counts["de"], counts["fr"], counts["es"]
    total = en + de + fr + es
    return (
        F.when(total == 0, F.lit("und"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length band + word-shape band +
    stopword presence. Fully arithmetic => identical in Spark and DuckDB."""
    n = token_count(col)
    awl = avg_token_len(col)
    # non-overlapping occurrence count of " the " via length-difference trick
    stop_hits = (F.length(col) - F.length(F.replace(F.col(col) if isinstance(col, str) else col, F.lit(" the "), F.lit("")))) / 5
    length_part = F.least(n / F.lit(100.0), F.lit(1.0)) * 0.5
    shape_part = F.when((awl >= 3) & (awl <= 8), F.lit(0.3)).otherwise(F.lit(0.0))
    stop_part = F.least(stop_hits / F.lit(3.0), F.lit(1.0)) * 0.2
    return F.round(length_part + shape_part + stop_part, 4)


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 (hex) — byte-identical across engines."""
    return F.md5(col)


def rolling_fingerprint(col: Column | str) -> Column:
    """64-bit rolling (polynomial/FNV-1a) content hash — the classic
    incremental document fingerprint, computed by the vectorized byte kernel
    in ``_hashing`` (Arrow-batched; no per-row Python)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ._hashing import fnv1a64

    def _fp(texts):
        import numpy as np

        vals = fnv1a64([t if isinstance(t, str) else "" for t in texts])
        return pd.Series(vals.view(np.int64))

    _fp.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_fp, LongType())(F.col(col) if isinstance(col, str) else col)


def normalize_text(col: Column | str) -> Column:
    """Canonical text form: lowercase, whitespace runs collapsed to single
    spaces, outer whitespace stripped. The standard pre-dedup normalization
    (casing/spacing variants must hash identically). The whitespace class is
    spelled explicitly: Java's ``\\s`` includes U+000B where RE2's does not,
    so the shorthand is a silent cross-engine divergence (and the explicit
    class also skips Java's slower shorthand machinery)."""
    return F.lower(F.trim(F.regexp_replace(col, r"[ \t\n\f\r]+", " ")))


#: pattern -> replacement chain applied by redact(); email-shaped tokens and
#: long digit runs are the classic PII masks. Patterns restricted to syntax
#: shared by Java regex (Spark) and RE2 (DuckDB) so oracles stay exact.
DEFAULT_REDACTIONS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
    (r"[0-9][0-9 ().+-]{6,}[0-9]", "<PHONE>"),
    (r"[0-9]{4,}", "<NUM>"),
]


def redact(col: Column | str, patterns: list[tuple[str, str]] | None = None) -> Column:
    """Mask every occurrence of each pattern (applied in order). Spark's
    ``regexp_replace`` is global; the DuckDB twin needs the ``'g'`` flag."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, replacement in patterns or DEFAULT_REDACTIONS:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    pretraining chunking step (long doc -> training-context-sized pieces).

    Pure JVM composition (split / sequence / posexplode / slice — no HOF
    lambda, no Python), zero shuffle: at 100 TB it is a flatMap over the
    corpus scan. Start offsets step by ``chunk_tokens - overlap``; the last
    start is capped at ``n - overlap - 1`` so the final window still adds new
    tokens yet fully covers the tail (step algebra: last_start + chunk >= n).
    Guard: ``sequence(0, x)`` with negative x DESCENDS in Spark, so the upper
    bound clamps via ``greatest(..., 0)`` for docs shorter than the overlap.

    Output: id, chunk_idx, start_token, n_tokens, chunk_text.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    step = chunk_tokens - overlap
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(step))
    sliced = df.select(
        id_col,
        F.posexplode(starts).alias("chunk_idx", "start_token"),
        toks.alias("__toks"),
        n.alias("__n"),
    )
    chunk = F.slice(F.col("__toks"), F.col("start_token") + 1, chunk_tokens)
    return sliced.select(
        id_col,
        "chunk_idx",
        "start_token",
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("start_token")).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family."""
    return (
        df.withColumn("n_tokens", token_count(text_col))
        .withColumn("n_pieces", bpe_ish_token_count(text_col))
        .withColumn("avg_token_len", F.round(avg_token_len(text_col), 4))
        .withColumn("lang_pred", lang_id(text_col))
        .withColumn("quality", quality_score(text_col))
        .withColumn("fingerprint", fingerprint(text_col))
        .withColumn("rolling_fp", rolling_fingerprint(text_col))
    )


# --------------------------------------------------------------------------
# catalog entries (driver harness) + oracles
# --------------------------------------------------------------------------

def q_doc_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return with_text_stats(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "quality", "fingerprint"
    )


Q_TEXT_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         len(string_split(text, ' ')) AS n_tokens_raw
  FROM documents
)
SELECT doc_id,
       n_tokens,
       ROUND((LENGTH(text) - n_tokens_raw + 1) * 1.0 / n_tokens_raw, 4) AS avg_token_len,
       ROUND(
         LEAST(n_tokens_raw / 100.0, 1.0) * 0.5
         + CASE WHEN (LENGTH(text) - n_tokens_raw + 1) * 1.0 / n_tokens_raw BETWEEN 3 AND 8
                THEN 0.3 ELSE 0.0 END
         + LEAST(((LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5) / 3.0, 1.0) * 0.2,
         4) AS quality,
       md5(text) AS fingerprint
FROM t
"""


def q_doc_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return (
        docs.withColumn("lang_pred", lang_id("text"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q_LANG_ID_SQL = r"""
WITH m AS (
  SELECT lang,
         len(regexp_extract_all(text, '\b(the|and|of|to|is)\b'))     AS en,
         len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b'))  AS de,
         len(regexp_extract_all(text, '\b(le|la|et|les|est)\b'))     AS fr,
         len(regexp_extract_all(text, '\b(el|los|que|de la|es)\b'))  AS es
  FROM documents
)
SELECT lang,
       CASE WHEN en + de + fr + es = 0 THEN 'und'
            WHEN en >= de AND en >= fr AND en >= es THEN 'en'
            WHEN de >= fr AND de >= es THEN 'de'
            WHEN fr >= es THEN 'fr'
            ELSE 'es' END AS lang_pred,
       COUNT(*) AS n_docs
FROM m
GROUP BY 1, 2
"""


def q_docs_by_lang_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg(token_count("text")), 2).alias("avg_tokens"),
        )
    )


Q_DOCS_BY_LANG_SQL = """
SELECT lang, source,
       COUNT(*)                                        AS n_docs,
       ROUND(AVG(n_chars), 2)                          AS avg_chars,
       ROUND(AVG(len(string_split(text, ' '))), 2)     AS avg_tokens
FROM documents
GROUP BY lang, source
"""

def q_doc_redact_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Normalization + PII-mask redaction, fingerprint-audited. The corpus has
    no PII, so deterministic email/number tokens derived from doc_id are
    appended first — the redactor must strip exactly those."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dirty = F.concat(
        F.col("text"),
        F.lit("  Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.col("doc_id") * 7919 + 10007).cast("string"),
        F.lit(" tel 555 123 4567."),
    )
    return docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("norm_fp"),
        F.md5(redact(dirty)).alias("redacted_fp"),
    )


Q_REDACT_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         text || '  Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ref ' || CAST(doc_id * 7919 + 10007 AS VARCHAR)
              || ' tel 555 123 4567.' AS t
  FROM documents
)
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g')))) AS norm_fp,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '[0-9][0-9 ().+-]{6,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g')) AS redacted_fp
FROM dirty
JOIN documents USING (doc_id)
"""


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Pretraining chunking: 32-token windows, 4-token overlap, fingerprinted
    per chunk (md5 is byte-identical cross-engine) for the 40 lowest doc_ids."""
    docs = spark.read.parquet(f"{sf}/documents.parquet").where(F.col("doc_id") < 40)
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=4)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_fp"),
    )


Q_CHUNK_DOCUMENTS_SQL = """
WITH sized AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks,
         len(string_split(COALESCE(text, ''), ' ')) AS n
  FROM documents WHERE doc_id < 40
),
starts AS (
  SELECT doc_id, toks, n, s.start_token
  FROM sized, unnest(generate_series(0, greatest(n - 5, 0), 28)) AS s(start_token)
)
SELECT doc_id,
       start_token // 28                      AS chunk_idx,
       start_token,
       LEAST(32, n - start_token)             AS n_tokens,
       md5(array_to_string(list_slice(toks, start_token + 1, start_token + 32), ' ')) AS chunk_fp
FROM starts
"""


def gopher_rules(col: Column | str) -> dict[str, Column]:
    """Gopher-style per-document quality rules (Rae et al. 2021 §A1.1
    adapted to the corpus): word-count band, mean-word-length band, stopword
    presence, distinct-token (repetition) ratio. Every rule is exact integer
    arithmetic or a ratio of exact integers over JVM expressions — map-only,
    no Python, bit-identical in a SQL engine."""
    toks = F.split(F.col(col) if isinstance(col, str) else col, " ")
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    # greatest(n, 1): an EMPTY doc must score False on the band rules, not
    # raise DIVIDE_BY_ZERO under ANSI mode (found by the hypothesis model
    # test; 0/1 = 0 falls outside every band, so semantics for n>0 are
    # untouched). Mirrored in the SQL oracles.
    safe_n = F.greatest(n, F.lit(1))
    # total chars of the tokens / token count (exact ints -> one double div)
    awl = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / safe_n
    n_distinct = F.size(F.array_distinct(toks))
    return {
        "r_word_count": (n >= 20) & (n <= 90),
        "r_word_len": (awl >= 2.5) & (awl <= 7.0),
        "r_stopword": F.array_contains(toks, "a") | F.array_contains(toks, "the"),
        "r_repetition": (n_distinct / safe_n) >= 0.3,
    }


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the per-rule booleans plus the conjunctive ``passes`` flag —
    the row-level form a filtering pipeline composes with ``where()``."""
    rules = gopher_rules(text_col)
    out = df
    passed = F.lit(True)
    for name, rule in rules.items():
        out = out.withColumn(name, rule)
        passed = passed & rule
    return out.withColumn("passes", passed)


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language Gopher-rule pass counts + overall pass rate — the
    filter-audit summary a curation pipeline reports. Map-only rule eval,
    one tiny groupBy(lang) exchange."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    flagged = quality_filter(docs)

    def hits(rule: str) -> Column:
        return F.sum(F.col(rule).cast("long")).alias("n_" + rule[2:])

    n_pass = F.sum(F.col("passes").cast("long"))
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            hits("r_word_count"),
            hits("r_word_len"),
            hits("r_stopword"),
            hits("r_repetition"),
            n_pass.alias("n_pass"),
            F.round(n_pass / F.count(F.lit(1)), 4).alias("pass_rate"),
        )
        .orderBy("lang")
    )


Q_QUALITY_FILTER_SQL = """
WITH toks AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
t AS (
  SELECT lang,
         len(l)                                              AS n,
         COALESCE(list_sum(list_transform(l, x -> LENGTH(x))), 0) * 1.0
           / GREATEST(len(l), 1)                             AS awl,
         len(list_distinct(l)) * 1.0 / GREATEST(len(l), 1)   AS dratio,
         list_contains(l, 'a') OR list_contains(l, 'the')    AS has_stop
  FROM toks
),
rules AS (
  SELECT lang,
         CAST(n BETWEEN 20 AND 90 AS INTEGER)              AS r_wc,
         CAST(awl BETWEEN 2.5 AND 7.0 AS INTEGER)          AS r_awl,
         CAST(has_stop AS INTEGER)                         AS r_stop,
         CAST(dratio >= 0.3 AS INTEGER)                    AS r_rep
  FROM t
)
SELECT lang,
       COUNT(*)                                   AS n_docs,
       CAST(SUM(r_wc) AS BIGINT)                  AS n_word_count,
       CAST(SUM(r_awl) AS BIGINT)                 AS n_word_len,
       CAST(SUM(r_stop) AS BIGINT)                AS n_stopword,
       CAST(SUM(r_rep) AS BIGINT)                 AS n_repetition,
       CAST(SUM(r_wc * r_awl * r_stop * r_rep) AS BIGINT) AS n_pass,
       ROUND(SUM(r_wc * r_awl * r_stop * r_rep) * 1.0 / COUNT(*), 4) AS pass_rate
FROM rules
GROUP BY lang
ORDER BY lang
"""


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the public algorithm): hash every character k-gram, then
    from every window of ``w`` consecutive hashes select the RIGHTMOST
    minimum; the deduplicated selections are the document's fingerprints.
    Guarantees >=1 selection per window (any shared substring of length
    >= w+k-1 yields a shared fingerprint) at expected density 2/(w+1).

    Spark-first formulation — no UDF: k-grams explode from a sequence(),
    hashes are md5 hex (byte-identical across engines, minimized
    lexicographically), and "rightmost minimum of some fully-contained
    window" decomposes into ``w`` frame conditions: position q is selected
    iff for some t in [0, w-1] (window [q-t, q-t+w-1] inside the gram
    range) the t hashes left of q are all >= h[q] AND the w-1-t hashes
    right of q are all > h[q]. One shuffle (the per-document window sort);
    documents with fewer than w+k-1 characters contain no full window and
    emit nothing, by construction.

    ``hash_fn``: 'md5' (default — the engine-portable hash DuckDB can
    recompute, so the catalog entry stays oracle-checked) or 'xxhash64'
    (the production lever: measured 2.0x at sf1 / 2.1x at sf10 — see
    PERF.md "Third decade" — same plan shape, long
    fingerprints instead of hex strings; selection positions differ
    between the two since the hash order differs, but the winnowing
    guarantee and density are identical)."""
    from pyspark.sql import Window

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    if hash_fn == "md5":
        hasher = lambda c: F.md5(c)  # noqa: E731
    elif hash_fn == "xxhash64":
        hasher = lambda c: F.xxhash64(c)  # noqa: E731
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    n = (F.length(text_col) - k + 1).alias("n")
    docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("t"), n).where(
        F.col("n") >= w
    )
    # Repartition by doc BEFORE exploding — two wins over letting the
    # window insert the exchange itself (the round-8 sf10 sweep finding:
    # a one-row-group corpus file ran the whole explode+hash map stage in
    # ONE task, 822s vs 35ms siblings):
    #  1. the k-gram explosion + per-gram hash parallelize regardless of
    #     the source's file/row-group layout;
    #  2. the shuffle moves COMPACT doc texts, not the exploded gram rows
    #     (~100x more bytes), and the window's required
    #     hashpartitioning(doc) is already satisfied — still ONE exchange
    #     in the plan (asserted in tests/test_scale_plans.py).
    # Explicit count: AQE would coalesce a column-only repartition of
    # compact texts far below the cores the exploded work needs.
    sc = df.sparkSession.sparkContext
    shuffle_n = shuffle_width(df.sparkSession)
    docs = docs.repartition(max(sc.defaultParallelism, shuffle_n), "doc")
    grams = (
        docs
        .select("doc", "n", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("pos"), "t")
        .select("doc", "n", "pos", hasher(F.col("t").substr(F.col("pos"), F.lit(k))).alias("h"))
    )
    win = Window.partitionBy("doc").orderBy("pos")
    conds = []
    for t in range(w):
        c = (F.col("pos") - t >= 1) & (F.col("pos") - t + (w - 1) <= F.col("n"))
        if t > 0:
            c = c & (F.min("h").over(win.rowsBetween(-t, -1)) >= F.col("h"))
        if t < w - 1:
            c = c & (F.min("h").over(win.rowsBetween(1, w - 1 - t)) > F.col("h"))
        conds.append(c)
    selected = conds[0]
    for c in conds[1:]:
        selected = selected | c
    # window expressions must materialize in a projection before the filter
    return (
        grams.withColumn("sel", selected)
        .where(F.col("sel"))
        .select(F.col("doc").alias(id_col), F.col("pos").alias("gram_pos"), F.col("h").alias("fp"))
    )


def q_doc_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return winnow_fingerprints(docs, k=5, w=4)


def _winnow_sql(k: int = 5, w: int = 4) -> str:
    conds = []
    for t in range(w):
        parts = [f"(pos - {t} >= 1 AND pos - {t} + {w - 1} <= n)"]
        if t > 0:
            parts.append(
                f"COALESCE(MIN(h) OVER (PARTITION BY doc ORDER BY pos "
                f"ROWS BETWEEN {t} PRECEDING AND 1 PRECEDING) >= h, FALSE)"
            )
        if t < w - 1:
            parts.append(
                f"COALESCE(MIN(h) OVER (PARTITION BY doc ORDER BY pos "
                f"ROWS BETWEEN 1 FOLLOWING AND {w - 1 - t} FOLLOWING) > h, FALSE)"
            )
        conds.append("(" + " AND ".join(parts) + ")")
    return f"""
WITH sized AS (
  SELECT doc_id AS doc, text AS t, LENGTH(text) - {k} + 1 AS n
  FROM documents
  WHERE LENGTH(text) - {k} + 1 >= {w}
),
grams AS (
  SELECT doc, n, CAST(s.p AS INTEGER) AS pos,
         md5(substr(t, CAST(s.p AS INTEGER), {k})) AS h
  FROM sized, unnest(generate_series(1, n)) AS s(p)
),
flagged AS (
  SELECT doc, pos, h, ({" OR ".join(conds)}) AS sel
  FROM grams
)
SELECT doc AS doc_id, pos AS gram_pos, h AS fp
FROM flagged WHERE sel
"""


Q_WINNOW_SQL = _winnow_sql(5, 4)


#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum
#: non-space marks — the split GPT-style byte-pair tokenizers apply BEFORE
#: merges, so its counts approximate "token cost" far better than
#: whitespace counts (punctuation and numbers tokenize separately). The
#: class syntax is identical in Java regex (Spark) and RE2 (DuckDB).
BPE_SPLIT_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language pre-tokenizer accounting: how many BPE-style pieces the
    corpus costs, split by piece class — the budgeting question every
    training-data pipeline asks before paying for real tokenization.
    All-JVM expressions (regexp_extract_all + size + filter), map-side
    combinable aggregate: one shuffle of 4 longs per language."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_REGEX), 0)
    alpha = F.filter(pieces, lambda x: x.rlike("^[A-Za-z]+$"))
    num = F.filter(pieces, lambda x: x.rlike("^[0-9]+$"))
    per_doc = df.select(
        "lang",
        F.size(pieces).alias("__n"),
        F.size(alpha).alias("__a"),
        F.size(num).alias("__d"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("total_pieces"),
        F.sum("__a").alias("alpha_pieces"),
        F.sum("__d").alias("numeric_pieces"),
        (F.sum("__n") - F.sum("__a") - F.sum("__d")).alias("punct_pieces"),
        F.round(F.sum("__n") / F.count(F.lit(1)), 4).alias("avg_pieces_per_doc"),
    )


def q_bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bpe_token_stats(docs)


Q_BPE_TOKEN_COUNTS_SQL = r"""
WITH per_doc AS (
  SELECT lang,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n,
         len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'),
                         x -> regexp_matches(x, '^[A-Za-z]+$'))) AS a,
         len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'),
                         x -> regexp_matches(x, '^[0-9]+$'))) AS d
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT)   AS n_docs,
       CAST(SUM(n) AS BIGINT)     AS total_pieces,
       CAST(SUM(a) AS BIGINT)     AS alpha_pieces,
       CAST(SUM(d) AS BIGINT)     AS numeric_pieces,
       CAST(SUM(n) - SUM(a) - SUM(d) AS BIGINT) AS punct_pieces,
       ROUND(SUM(n) * 1.0 / COUNT(*), 4) AS avg_pieces_per_doc
FROM per_doc
GROUP BY lang
"""


TEXT_QUERIES = {
    "q_doc_text_stats": q_doc_text_stats,
    "q_bpe_token_counts": q_bpe_token_counts,
    "q_doc_lang_id": q_doc_lang_id,
    "q_docs_by_lang_source": q_docs_by_lang_source,
    "q_doc_redact_normalize": q_doc_redact_normalize,
    "q_chunk_documents": q_chunk_documents,
    "q_quality_filter": q_quality_filter,
    "q_doc_winnow_fingerprints": q_doc_winnow_fingerprints,
}

TEXT_ORACLES = {
    "q_doc_winnow_fingerprints": Q_WINNOW_SQL,
    "q_bpe_token_counts": Q_BPE_TOKEN_COUNTS_SQL,
    "q_doc_text_stats": Q_TEXT_STATS_SQL,
    "q_doc_lang_id": Q_LANG_ID_SQL,
    "q_docs_by_lang_source": Q_DOCS_BY_LANG_SQL,
    "q_doc_redact_normalize": Q_REDACT_SQL,
    "q_chunk_documents": Q_CHUNK_DOCUMENTS_SQL,
    "q_quality_filter": Q_QUALITY_FILTER_SQL,
}
