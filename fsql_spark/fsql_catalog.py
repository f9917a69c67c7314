"""Oracle-gated catalog entries for the fsql CORE scan path.

Every entry here answers an aggregate THROUGH :func:`fsql_spark.api.
read_partitioned_table` over a partitioned tree materialized from the flat
testdata — so the driver's DuckDB oracle exercises the engine's own scan
machinery (partition discovery, the query-directed walk, driver discovery,
value-only layouts), not just ``spark.read.parquet`` (reference surface:
`api.py:70-107`, `query.py`, `daterange_utils.py`, `column_parser.py`).

Tree materialization is write-once per (scale-factor, layout) into
``/tmp/fsql_spark_trees`` with a ready-marker, built through the engine's own
writers (:func:`write_table` / :func:`write_object`), and repartitioned by the
partition keys first so each Hive partition gets ONE file instead of
``tasks x keys`` shards — the small-file discipline that matters at 100 TB.

Paths exercised per entry:

- ``q_fsql_daterange_revenue`` — FAST PATH: DateRangeQuery judged by the walk
  over a year/month/day tree, the kept days loaded as one partition filter.
- ``q_fsql_lexrange_revenue`` — FAST PATH: LexRangeQuery (num comparators)
  tuple-range expansion over year/month.
- ``q_fsql_eq_in_pushdown`` — FAST PATH: Q_AND/Q_EQ/Q_IN + ``columns=``
  projection pushdown.
- ``q_fsql_atomic_discovery`` — THE WALK: black-box AtomicQuery evaluated
  over the bound year/month directories, then one distributed scan.
- ``q_fsql_generated_scan`` — THE WALK with zero-``ls`` partition
  GENERATION (DateRangeGenerator) + DateRangeQuery.
- ``q_fsql_fixed_columns`` — DRIVER DISCOVERY: value-only layout +
  filename-as-column (FixedColumnsParser), files written via write_object.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import (
    read_partitioned_table,
    write_bucketed_table,
    write_object,
    write_sorted_table,
    write_table,
)
from .column_parser import DateRangeGenerator, FixedColumnsParser
from .queries import (
    ColumnComparator,
    ColumnRange,
    DateRangeQuery,
    LexRangeQuery,
    AtomicQuery,
    Q_AND,
    Q_EQ,
    Q_IN,
    Q_TRUE,
)
from .readers import SparkReader

_TREE_ROOT = "/tmp/fsql_spark_trees"


def _tree_dir(sf_dir: str, layout: str, source_table: str) -> str:
    """Cache key includes a fingerprint of the SOURCE parquet (mtime+size):
    regenerated testdata gets a fresh tree instead of silently reusing a
    stale one that would diverge from the oracle's flat view.
    :func:`_build_once` adds the fingerprint of the writing code."""
    import hashlib

    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    try:
        st = os.stat(os.path.join(sf_dir, f"{source_table}.parquet"))
        fp = hashlib.md5(f"{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    except OSError:
        fp = "nosrc"
    return os.path.join(_TREE_ROOT, sf_tag, f"{layout}_{fp}")


def _ready(dest: str) -> str:
    return os.path.join(dest, "_FSQL_READY")


def _code_fingerprint(build) -> str:
    """md5 of the source of ``build`` and of the library code that writes
    the trees: a change to either rebuilds a tree instead of serving the
    old code's output to the gate."""
    import hashlib
    import inspect

    from . import api, maintenance

    writers = [api.write_table, api.write_object, api.write_sorted_table, api.write_zorder_table, api.zorder_key]
    source = "".join(inspect.getsource(w) for w in [*writers, maintenance, build])
    return hashlib.md5(source.encode()).hexdigest()[:8]


def _build_once(dest: str, build) -> str:
    """Build ``dest``, suffixed with :func:`_code_fingerprint`, into a
    unique staging dir, then atomically rename into place — concurrent
    first builds (pytest + bench) each stage privately and the rename
    loser simply adopts the winner's tree."""
    import shutil
    import uuid

    dest = f"{dest}_{_code_fingerprint(build)}"
    if os.path.exists(_ready(dest)):
        return dest
    staging = f"{dest}.staging_{uuid.uuid4().hex[:8]}"
    try:
        build(staging)
        with open(os.path.join(staging, "_FSQL_READY"), "w") as fd:
            fd.write("ok")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        if os.path.isdir(dest) and not os.path.exists(_ready(dest)):
            shutil.rmtree(dest, ignore_errors=True)  # crashed build leftover
        try:
            os.rename(staging, dest)
        except OSError:
            if not os.path.exists(_ready(dest)):  # lost the race AND no winner
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return dest


def _orders_ym_tree(spark: SparkSession, sf_dir: str) -> str:
    """orders partitioned Hive-style by (year, month) from o_orderdate."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = df.withColumn("year", F.year("o_orderdate").cast("string")).withColumn(
            "month", F.month("o_orderdate").cast("string")
        )
        write_table(out.repartition("year", "month"), staging, partition_by=["year", "month"])

    return _build_once(_tree_dir(sf_dir, "orders_ym", "orders"), build)


def _orders_ymd_tree(spark: SparkSession, sf_dir: str) -> str:
    """One year of orders partitioned by (year, month, day) — the date-range
    pruning layout (~365 partitions, bounded at any SF)."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        out = (
            df.withColumn("year", F.year("o_orderdate").cast("string"))
            .withColumn("month", F.month("o_orderdate").cast("string"))
            .withColumn("day", F.dayofmonth("o_orderdate").cast("string"))
        )
        write_table(
            out.repartition("year", "month", "day"),
            staging,
            partition_by=["year", "month", "day"],
        )

    return _build_once(_tree_dir(sf_dir, "orders_1995_ymd", "orders"), build)


def _orders_ym_orc_tree(spark: SparkSession, sf_dir: str) -> str:
    """orders partitioned Hive-style by (year, month) in ORC — the driver's
    north star names "Spark SQL over Parquet/ORC partitions"; same layout as
    the parquet tree so the scan path (discovery, pruning, pushdown) is
    format-agnostic and only the leaf source differs."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = df.withColumn("year", F.year("o_orderdate").cast("string")).withColumn(
            "month", F.month("o_orderdate").cast("string")
        )
        write_table(
            out.repartition("year", "month"),
            staging,
            format="orc",
            partition_by=["year", "month"],
        )

    return _build_once(_tree_dir(sf_dir, "orders_ym_orc", "orders"), build)


def _docs_lang_jsongz_tree(spark: SparkSession, sf_dir: str) -> str:
    """documents partitioned Hive-style by lang with GZIPPED JSON-LINES
    leaves — the crawl-dump layout (compressed text files landing in a
    partitioned tree). Exercises the compressed-suffix autodetect
    (``.json.gz`` -> JSON) through the full engine scan path."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_table(
            df.repartition("lang"),
            staging,
            format="json",
            partition_by=["lang"],
            options={"compression": "gzip"},
        )

    return _build_once(_tree_dir(sf_dir, "docs_lang_jsongz", "documents"), build)


def _part_brand_csv_tree(spark: SparkSession, sf_dir: str) -> str:
    """part partitioned Hive-style by brand with CSV leaves (header +
    inferSchema read options, the reference's pandas-csv defaults) — with
    ORC, parquet and gz-json trees this makes every distributed-readable
    reference format driver-visible through the same scan machinery."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/part.parquet").select(
            "p_partkey", "p_brand", "p_size", "p_retailprice"
        )
        write_table(
            df.repartition("p_brand"),
            staging,
            format="csv",
            partition_by=["p_brand"],
            options={"header": "true"},
        )

    return _build_once(_tree_dir(sf_dir, "part_brand_csv", "part"), build)


def _orders_compacted_tree(spark: SparkSession, sf_dir: str) -> str:
    """A deliberately-fragmented orders-by-year tree (8 shards per
    partition) run through ``maintenance.compact`` — the small-file
    operational cycle every streaming-fed 100 TB table lives through. The
    build FAILS unless compaction actually reduced the file count, so the
    cached tree always represents a real compaction, and the catalog entry
    then proves the rewrite was data-invariant under the oracle."""

    def build(staging: str) -> None:
        from .maintenance import compact, file_stats

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = df.withColumn("year", F.year("o_orderdate").cast("string"))
        write_table(out.repartition(8), staging, partition_by=["year"])
        before = file_stats(spark, staging).agg(F.sum("n_files")).collect()[0][0]
        compact(spark, staging, partition_by=["year"])
        after = file_stats(spark, staging).agg(F.sum("n_files")).collect()[0][0]
        if not after < before:
            raise RuntimeError(
                f"compaction did not reduce files ({before} -> {after}); "
                "the entry would not be exercising maintenance.compact"
            )

    return _build_once(_tree_dir(sf_dir, "orders_year_compacted", "orders"), build)


def _orders_restated_tree(spark: SparkSession, sf_dir: str) -> str:
    """An orders-by-year tree where the 1995 partition was RESTATED (prices
    doubled) via ``maintenance.overwrite_partitions`` — dynamic partition
    overwrite, the idempotent backfill primitive. Every other partition
    keeps its original files; the catalog entry's hash proves both halves:
    1995 carries the restatement, everything else is untouched."""

    def build(staging: str) -> None:
        from .maintenance import overwrite_partitions

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = df.withColumn("year", F.year("o_orderdate").cast("string"))
        write_table(out.repartition("year"), staging, partition_by=["year"])
        restated = out.where(F.col("year") == "1995").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        overwrite_partitions(restated.repartition("year"), staging, ["year"])

    return _build_once(_tree_dir(sf_dir, "orders_year_restated", "orders"), build)


def per_file_col_ranges(tree_dir: str, cols: list[str]) -> dict[str, list[tuple]]:
    """Per-file (min, max) of each column from parquet footer statistics —
    the metadata a data-skipping layout audit reads. Row groups without
    statistics are skipped; files whose every row group lacks them are
    omitted for that column."""
    import glob

    import pyarrow.parquet as pq

    out: dict[str, list[tuple]] = {c: [] for c in cols}
    for f in glob.glob(f"{tree_dir}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for c in cols:
            idx = md.schema.names.index(c)
            stats = [
                md.row_group(g).column(idx).statistics
                for g in range(md.num_row_groups)
            ]
            stats = [s for s in stats if s is not None]
            if stats:
                out[c].append((min(s.min for s in stats), max(s.max for s in stats)))
    return out


def _orders_sorted_tree(spark: SparkSession, sf_dir: str) -> str:
    """orders range-clustered on o_custkey via ``write_sorted_table`` — the
    data-skipping layout (each file covers a disjoint key range, so a
    selective scan reads ~1/n_files of the table via footer min/max). The
    build FAILS unless the per-file ranges are actually disjoint, so the
    cached tree always represents a working clustering."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_sorted_table(df, staging, sort_cols=["o_custkey"], n_files=8)
        ranges = per_file_col_ranges(staging, ["o_custkey"])["o_custkey"]
        ranges.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            if lo2 < hi1:
                raise RuntimeError(
                    f"sorted-table files overlap on o_custkey ({hi1} > {lo2}) — "
                    "range clustering is not providing data skipping"
                )

    return _build_once(_tree_dir(sf_dir, "orders_custkey_sorted", "orders"), build)


#: per-process suffix for bucketed demo tables: bucketing METADATA lives in
#: the session's in-memory catalog while table FILES persist in the shared
#: warehouse dir, so cross-process name reuse would race (one process
#: dropping/rewriting a location another is mid-write or mid-query on).
#: Unique names give each process a private build (seconds at test SF,
#: prematerialized untimed by bench); stale processes' leftovers are
#: age-swept below.
_BKT_PROC_TAG = uuid.uuid4().hex[:8]


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders + customer as managed tables bucketed 8-ways on the join key
    (``write_bucketed_table``): both sides pre-shuffled at write time, so
    their join runs WITHOUT any Exchange once sizes rule out broadcast
    (plan-guarded on THIS pair, broadcast disabled, in
    tests/test_scale_plans.py) — the co-located-join strategy for
    repeatedly-joined 100 TB facts. Table names carry a fingerprint of BOTH
    source files (regenerating either side rebuilds) plus a per-process tag
    (no cross-process warehouse races)."""
    import hashlib
    import shutil
    import time

    # sanitize EVERY non-identifier char (a dir like "sf0.1-tree" would
    # otherwise produce a hyphenated table name -> ParseException)
    sf_tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir)))
    stats = []
    for t in ("orders", "customer"):
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            stats.append(f"{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            stats.append("nosrc")
    fp = hashlib.md5(";".join(stats).encode()).hexdigest()[:8]
    t_orders = f"fsql_bkt_orders_{sf_tag}_{fp}_{_BKT_PROC_TAG}"
    t_cust = f"fsql_bkt_customer_{sf_tag}_{fp}_{_BKT_PROC_TAG}"
    if not (spark.catalog.tableExists(t_orders) and spark.catalog.tableExists(t_cust)):
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh = wh.removeprefix("file:")
        # sweep leftovers from DEAD processes (other proc tags, untouched
        # for hours — a live concurrent builder's dirs are minutes old);
        # this process's own names are fresh/unique, so no self-conflict
        cutoff = time.time() - 6 * 3600
        try:
            for d in os.listdir(wh):
                full = os.path.join(wh, d)
                if (
                    d.startswith("fsql_bkt_")
                    and not d.endswith(_BKT_PROC_TAG)
                    and os.path.getmtime(full) < cutoff
                ):
                    shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        write_bucketed_table(orders, t_orders, ["o_custkey"], 8, sort_cols=["o_custkey"])
        write_bucketed_table(cust, t_cust, ["c_custkey"], 8, sort_cols=["c_custkey"])
    return t_orders, t_cust


def _nation_by_region_tree(spark: SparkSession, sf_dir: str) -> str:
    """Value-only layout ``{r_name}/{n_name}.parquet`` — non-Hive dirs plus the
    filename-bears-information convention (reference README.md:22), written
    file-by-file through write_object."""

    def build(staging: str) -> None:
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        joined = nation.join(
            region, nation.n_regionkey == region.r_regionkey
        ).select("n_nationkey", "n_regionkey", "n_name", "r_name")
        pdf = joined.toPandas()
        for (r_name, n_name), group in pdf.groupby(["r_name", "n_name"]):
            os.makedirs(os.path.join(staging, str(r_name)), exist_ok=True)
            write_object(
                os.path.join(staging, str(r_name), f"{n_name}.parquet"),
                group[["n_nationkey", "n_regionkey", "n_name"]].reset_index(drop=True),
            )

    return _build_once(_tree_dir(sf_dir, "nation_by_region", "nation"), build)


# --------------------------------------------------------------------------
# catalog entries
# --------------------------------------------------------------------------

def q_fsql_daterange_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH: DateRangeQuery [1995-03-15, 1995-06-01) judged by the
    walk over the y/m/d tree; the kept days reach the scan as
    PartitionFilters (asserted in tests/test_scale_plans.py)."""
    url = _orders_ymd_tree(spark, sf)
    df = read_partitioned_table(url, DateRangeQuery("1995/03/15", "1995/06/01"), spark=spark)
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_DATERANGE_SQL = """
SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-03-15 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-06-01 00:00:00'
GROUP BY 1
"""


def q_fsql_lexrange_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH: lexicographic tuple range [(1996,2), (1998,9)) with num
    comparators over the year/month tree (per-column min<=max is the
    ColumnRange contract, reference `query.py:129-140`)."""
    url = _orders_ym_tree(spark, sf)
    query = LexRangeQuery(
        [
            ColumnRange("year", "1996", "1998", ColumnComparator.num),
            ColumnRange("month", "2", "9", ColumnComparator.num),
        ]
    )
    df = read_partitioned_table(url, query, spark=spark)
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_LEXRANGE_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE (EXTRACT(year FROM o_orderdate) > 1996
       OR (EXTRACT(year FROM o_orderdate) = 1996 AND EXTRACT(month FROM o_orderdate) >= 2))
  AND (EXTRACT(year FROM o_orderdate) < 1998
       OR (EXTRACT(year FROM o_orderdate) = 1998 AND EXTRACT(month FROM o_orderdate) < 9))
GROUP BY 1
"""


def q_fsql_eq_in_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH: Q_AND(Q_EQ, Q_IN) partition pruning + ``columns=``
    projection pushdown (reference `deser.py:170-176`)."""
    url = _orders_ym_tree(spark, sf)
    query = Q_AND(Q_EQ("year", "1997"), Q_IN("month", ["2", "3", "5"]))
    df = read_partitioned_table(
        url, query, data_reader=SparkReader(columns=["o_totalprice"]), spark=spark
    )
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_EQ_IN_SQL = """
SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1997
  AND EXTRACT(month FROM o_orderdate) IN (2, 3, 5)
GROUP BY 1
"""


def q_fsql_atomic_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """Black-box Python predicate (AtomicQuery) — Catalyst can't push it, so
    the engine's walk judges the bound year/month directories driver-side
    (O(#partitions), like the reference) and hands the survivors to ONE
    distributed scan (SURVEY §4.3.1)."""
    url = _orders_ym_tree(spark, sf)
    query = AtomicQuery(lambda year, month: int(month) % 3 == 0 and int(year) >= 1999)
    df = read_partitioned_table(url, query, spark=spark)
    return df.groupBy("year", "month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_ATOMIC_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR)  AS year,
       CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE EXTRACT(month FROM o_orderdate) % 3 = 0
  AND EXTRACT(year FROM o_orderdate) >= 1999
GROUP BY 1, 2
"""


def q_fsql_generated_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-``ls`` partition GENERATION: the DateRangeGenerator synthesizes
    candidate y/m/d segments instead of listing (reference
    `daterange_utils.py:90-180`); the DateRangeQuery applies the exact
    [start, end) filter."""
    url = _orders_ymd_tree(spark, sf)
    start, end = "1995/07/01", "1995/09/15"
    df = read_partitioned_table(
        url,
        DateRangeQuery(start, end),
        column_parser=DateRangeGenerator.build(start, end),
        spark=spark,
    )
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_GENERATED_SQL = """
SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-09-15 00:00:00'
GROUP BY 1
"""


def q_fsql_orc_scan(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH over ORC: format autodetected from the ``.orc`` leaf suffix,
    Q_AND(Q_EQ, Q_IN) partition pruning + ``columns=`` projection — the same
    Catalyst machinery as the parquet entries (ORC has its own vectorized
    reader + pushdown), proving the scan path is source-format-agnostic."""
    url = _orders_ym_orc_tree(spark, sf)
    query = Q_AND(Q_EQ("year", "1996"), Q_IN("month", ["1", "4", "11"]))
    df = read_partitioned_table(
        url, query, data_reader=SparkReader(columns=["o_totalprice"]), spark=spark
    )
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_ORC_SQL = """
SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1996
  AND EXTRACT(month FROM o_orderdate) IN (1, 4, 11)
GROUP BY 1
"""


def q_fsql_jsongz_scan(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH over gzipped JSON-lines leaves: format autodetected
    through the compression suffix (``.json.gz`` -> JSON), Q_IN partition
    pruning — the compressed crawl-dump landing layout read by the same
    scan machinery as parquet/ORC."""
    url = _docs_lang_jsongz_tree(spark, sf)
    df = read_partitioned_table(url, Q_IN("lang", ["en", "fr", "zh"]), spark=spark)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


Q_FSQL_JSONGZ_SQL = """
SELECT lang,
       COUNT(*)                     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE lang IN ('en', 'fr', 'zh')
GROUP BY lang
"""


def q_fsql_csv_scan(spark: SparkSession, sf: str) -> DataFrame:
    """FAST PATH over CSV leaves: suffix autodetect -> header+inferSchema
    options (the reference's pandas defaults, formats.spark_options), Q_IN
    partition pruning — closes the format matrix (parquet/ORC/json.gz/csv
    all through the same engine scan path)."""
    url = _part_brand_csv_tree(spark, sf)
    df = read_partitioned_table(
        url, Q_IN("p_brand", ["Brand#11", "Brand#23", "Brand#45"]), spark=spark
    )
    return df.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        F.max("p_size").alias("max_size"),
    )


Q_FSQL_CSV_SQL = """
SELECT p_brand,
       COUNT(*)                    AS n_parts,
       ROUND(SUM(p_retailprice), 2) AS sum_price,
       CAST(MAX(p_size) AS INTEGER) AS max_size
FROM part
WHERE p_brand IN ('Brand#11', 'Brand#23', 'Brand#45')
GROUP BY p_brand
"""


def q_fsql_compacted_scan(spark: SparkSession, sf: str) -> DataFrame:
    """MAINTENANCE cycle under the oracle: a fragmented tree compacted by
    ``maintenance.compact`` (file-count reduction asserted at build) must
    answer identically to the flat source — the rewrite is purely physical.
    Scan goes through the engine's own read path over the compacted
    layout."""
    url = _orders_compacted_tree(spark, sf)
    df = read_partitioned_table(url, Q_TRUE, spark=spark)
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_COMPACTED_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY 1
"""


def q_fsql_restated_scan(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL INGEST under the oracle: dynamic partition overwrite
    restated exactly one year (1995 prices doubled); the aggregate over the
    whole tree must show the restatement in 1995 AND byte-identical values
    everywhere else — re-running yesterday's pipeline touches only
    yesterday's partitions."""
    url = _orders_restated_tree(spark, sf)
    df = read_partitioned_table(url, Q_TRUE, spark=spark)
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_RESTATED_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
       COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                      THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS sum_price
FROM orders
GROUP BY 1
"""


def _orders_drift_tree(spark: SparkSession, sf_dir: str) -> str:
    """A tree whose DATA schema drifts across partitions: years before 1996
    carry the original orders columns; 1996+ add ``o_channel`` (a
    deterministic label) — the standard production evolution where new
    ingest code adds a field and history is never rewritten."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
            "year", F.year("o_orderdate").cast("string")
        )
        old = df.where(F.col("year") < "1996")
        new = df.where(F.col("year") >= "1996").withColumn(
            "o_channel",
            F.element_at(
                F.array(F.lit("web"), F.lit("store"), F.lit("app")),
                (F.col("o_orderkey") % 3 + 1).cast("int"),
            ),
        )
        # through the engine's own writer, like every other catalog tree
        write_table(old.repartition("year"), staging, partition_by=["year"])
        write_table(new.repartition("year"), staging, mode="append", partition_by=["year"])

    return _build_once(_tree_dir(sf_dir, "orders_drift", "orders"), build)


def q_fsql_drift_scan(spark: SparkSession, sf: str) -> DataFrame:
    """SCHEMA DRIFT under the oracle: one engine scan over a tree whose
    later partitions add a data column. ``mergeSchema`` (one reader option)
    surfaces the union schema; pre-drift rows read NULL for the new column
    — the NaN-pad union semantics of the reference's per-file pandas concat
    (`/root/reference/src/fsql/deser.py:233-234`), delivered by ONE
    Catalyst scan instead of per-file frames."""
    url = _orders_drift_tree(spark, sf)
    df = read_partitioned_table(
        url, Q_TRUE, data_reader=SparkReader(options={"mergeSchema": "true"}), spark=spark
    )
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_channel").alias("n_with_channel"),
        F.countDistinct("o_channel").alias("n_channels"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_DRIFT_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN EXTRACT(year FROM o_orderdate) >= 1996 THEN 1 END) AS n_with_channel,
       COUNT(DISTINCT CASE WHEN EXTRACT(year FROM o_orderdate) >= 1996
                           THEN ['web','store','app'][(o_orderkey % 3) + 1] END) AS n_channels,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY 1
"""


def _orders_retention_tree(spark: SparkSession, sf_dir: str) -> str:
    """An orders (year, month) tree with its pre-1997 partitions DELETED by
    ``maintenance.drop_partitions`` driven by a LexRangeQuery — retention
    expressed in the engine's own predicate language. The build fails
    unless the drop removed the expected directories and a dry-run listed
    the same set first."""

    def build(staging: str) -> None:
        from .maintenance import drop_partitions
        from .queries import ColumnComparator, ColumnRange, LexRangeQuery

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = df.withColumn("year", F.year("o_orderdate").cast("string")).withColumn(
            "month", F.month("o_orderdate").cast("string")
        )
        write_table(out.repartition("year", "month"), staging, partition_by=["year", "month"])
        expired = LexRangeQuery(
            [ColumnRange("year", "0", "1997", ColumnComparator.num)]
        )
        planned = drop_partitions(staging, expired, dry_run=True)
        deleted = drop_partitions(staging, expired)
        if not deleted or deleted != planned:
            raise RuntimeError(
                f"retention drop inconsistent: dry_run={len(planned)} vs "
                f"deleted={len(deleted)} directories"
            )
        import re as _re

        if any(not _re.search(r"year=199[0-6]/", d + "/") for d in deleted):
            raise RuntimeError(f"unexpected directory deleted: {deleted}")

    # v2: drop_partitions now prunes emptied ancestor dirs (fast-path
    # probe); the key bump discards cached trees built before that
    return _build_once(_tree_dir(sf_dir, "orders_ym_retained_v2", "orders"), build)


def q_fsql_retention_scan(spark: SparkSession, sf: str) -> DataFrame:
    """RETENTION under the oracle: the predicate language that scans also
    deletes — pre-1997 partitions were dropped by LexRangeQuery-driven
    ``drop_partitions`` (prune-as-you-descend: only the expiring branch is
    ever listed), and the surviving tree's aggregate must equal the flat
    table WHERE year >= 1997."""
    url = _orders_retention_tree(spark, sf)
    df = read_partitioned_table(url, Q_TRUE, spark=spark)
    return df.groupBy("year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_RETENTION_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS year,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE EXTRACT(year FROM o_orderdate) >= 1997
GROUP BY 1
"""


def _orders_zorder_tree(spark: SparkSession, sf_dir: str) -> str:
    """orders Z-order-clustered on (o_custkey, o_orderkey) via
    ``write_zorder_table`` — 2-D data skipping: every file covers a small
    range of BOTH keys, so selective scans on EITHER column skip files via
    footer min/max (a linear sort gives one dimension only). The build
    FAILS unless per-file spans on BOTH dimensions average well below the
    global span, so the cached tree always represents a working
    interleave."""

    def build(staging: str) -> None:
        from .api import write_zorder_table

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_zorder_table(df, staging, ["o_custkey", "o_orderkey"], n_files=16)
        ranges = per_file_col_ranges(staging, ["o_custkey", "o_orderkey"])
        for col, rs in ranges.items():
            width = max(hi for _, hi in rs) - min(lo for lo, _ in rs)
            avg = sum(hi - lo for lo, hi in rs) / len(rs)
            # 16 files: ideal Morton span ~ width/4 per dim. Threshold 0.7:
            # repartitionByRange samples its boundaries, so files straddling
            # top-level curve transitions can span a large chunk of one dim —
            # the gate distinguishes 2-D locality from a LINEAR sort (second
            # dim ~ 1.0) without flaking on sampling luck
            if not avg < 0.7 * width:
                raise RuntimeError(
                    f"z-order failed to localize {col}: avg file span {avg:.0f} "
                    f"vs global {width} — clustering is not two-dimensional"
                )

    return _build_once(_tree_dir(sf_dir, "orders_zorder", "orders"), build)


def q_fsql_zorder_scan(spark: SparkSession, sf: str) -> DataFrame:
    """2-D DATA SKIPPING under the oracle: a selective range filter on
    o_orderkey — the dimension a o_custkey-sorted layout cannot skip on —
    over the Z-ordered tree (both-dimension per-file locality asserted at
    build). Catalyst pushes the predicate; footer min/max stats skip most
    files on either dimension."""
    url = _orders_zorder_tree(spark, sf)
    df = read_partitioned_table(url, Q_TRUE, spark=spark)
    lo, hi = 100, 2000
    return (
        df.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


Q_FSQL_ZORDER_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_orderkey >= 100 AND o_orderkey < 2000
GROUP BY o_orderpriority
"""


def q_fsql_sorted_scan(spark: SparkSession, sf: str) -> DataFrame:
    """DATA-SKIPPING layout under the oracle: a selective key-range filter
    over the range-clustered tree (disjoint per-file o_custkey ranges,
    asserted at build) — Catalyst pushes the predicate to the scan where
    footer min/max statistics skip all but ~1 of the 8 files."""
    url = _orders_sorted_tree(spark, sf)
    df = read_partitioned_table(url, Q_TRUE, spark=spark)
    return (
        df.where(F.col("o_custkey") < 100)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


Q_FSQL_SORTED_SQL = """
SELECT o_orderpriority,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_custkey < 100
GROUP BY 1
"""


def q_fsql_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """CO-LOCATED JOIN under the oracle: both sides bucketed 8-ways on the
    join key at write time, so the join plan has no Exchange once sizes
    rule out broadcast (at tiny test SF, AQE rightly broadcasts the dim —
    the Exchange-free SMJ is asserted on THIS pair with broadcast disabled
    in tests/test_scale_plans.py); the hash match proves bucketing changed
    nothing logically."""
    t_orders, t_cust = _bucketed_pair(spark, sf)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_BUCKETED_SQL = """
SELECT c_mktsegment,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_fsql_fixed_columns(spark: SparkSession, sf: str) -> DataFrame:
    """DRIVER DISCOVERY: value-only dirs + filename column
    (FixedColumnsParser, reference `column_parser.py:123-147`): the path
    grammar is ``{region_name}/{fname}``, so the region binds from the dir
    name and the file name itself becomes a column."""
    url = _nation_by_region_tree(spark, sf)
    # MIDDLE EAST contains a space: the value-only dir name round-trips
    # through driver discovery and the literal-column binding untouched
    query = Q_IN("region_name", ["ASIA", "MIDDLE EAST"])
    df = read_partitioned_table(
        url, query, column_parser=FixedColumnsParser.from_str("region_name/fname"), spark=spark
    )
    return df.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "region_name",
        "fname",
    )


Q_FSQL_FIXED_SQL = """
SELECT CAST(n_nationkey AS BIGINT)  AS n_nationkey,
       r_name                       AS region_name,
       n_name || '.parquet'         AS fname
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'MIDDLE EAST')
"""


def _orders_manyfile_tree(spark: SparkSession, sf_dir: str) -> str:
    """orders as a REALISTICALLY FRAGMENTED tree: Hive (year, month) dirs
    with ~4 files per partition (~330 leaf files at any SF — the month
    count, not the row count, bounds the layout). The other fsql trees are
    compact (one file per partition); this one exists because listing,
    pruning, and scan-task packing behave differently at production file
    counts, and a single-file bench hides all three (round-7 verdict)."""

    def build(staging: str) -> None:
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = (
            df.withColumn("year", F.year("o_orderdate").cast("string"))
            .withColumn("month", F.month("o_orderdate").cast("string"))
            # deterministic 4-way intra-partition split (no rand(): trees
            # must be byte-stable across rebuilds for the oracle)
            .withColumn("__salt", (F.col("o_orderkey") % 4).cast("int"))
        )
        # explicit partition count: a column-only repartition lets AQE
        # coalesce the tiny shuffle to ~1 task, which writes ONE file per
        # dir and defeats the fragmentation this tree exists to model
        write_table(
            out.repartition(128, "year", "month", "__salt").drop("__salt"),
            staging,
            partition_by=["year", "month"],
        )
        n_files = sum(
            1 for _r, _d, files in os.walk(staging) for f in files if f.endswith(".parquet")
        )
        if n_files < 100:  # the point of this tree IS the file count
            raise RuntimeError(f"manyfile tree built only {n_files} files")

    return _build_once(_tree_dir(sf_dir, "orders_manyfile", "orders"), build)


def q_fsql_manyfile_scan(spark: SparkSession, sf: str) -> DataFrame:
    """MANY-FILE layout under the oracle: partition-prune one year out of a
    ~330-file (year, month) tree through the engine's own read path, then
    aggregate per month — listing and pruning at a realistic file count
    must answer identically to the flat single-file source."""
    url = _orders_manyfile_tree(spark, sf)
    df = read_partitioned_table(url, Q_EQ("year", "1995"), spark=spark)
    return df.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


Q_FSQL_MANYFILE_SQL = """
SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS month,
       COUNT(*)                    AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1995
GROUP BY 1
"""


FSQL_QUERIES = {
    "q_fsql_daterange_revenue": q_fsql_daterange_revenue,
    "q_fsql_lexrange_revenue": q_fsql_lexrange_revenue,
    "q_fsql_eq_in_pushdown": q_fsql_eq_in_pushdown,
    "q_fsql_atomic_discovery": q_fsql_atomic_discovery,
    "q_fsql_generated_scan": q_fsql_generated_scan,
    "q_fsql_fixed_columns": q_fsql_fixed_columns,
    "q_fsql_orc_scan": q_fsql_orc_scan,
    "q_fsql_jsongz_scan": q_fsql_jsongz_scan,
    "q_fsql_csv_scan": q_fsql_csv_scan,
    "q_fsql_compacted_scan": q_fsql_compacted_scan,
    "q_fsql_restated_scan": q_fsql_restated_scan,
    "q_fsql_drift_scan": q_fsql_drift_scan,
    "q_fsql_retention_scan": q_fsql_retention_scan,
    "q_fsql_sorted_scan": q_fsql_sorted_scan,
    "q_fsql_zorder_scan": q_fsql_zorder_scan,
    "q_fsql_bucketed_join": q_fsql_bucketed_join,
    "q_fsql_manyfile_scan": q_fsql_manyfile_scan,
}

FSQL_ORACLES = {
    "q_fsql_daterange_revenue": Q_FSQL_DATERANGE_SQL,
    "q_fsql_lexrange_revenue": Q_FSQL_LEXRANGE_SQL,
    "q_fsql_eq_in_pushdown": Q_FSQL_EQ_IN_SQL,
    "q_fsql_atomic_discovery": Q_FSQL_ATOMIC_SQL,
    "q_fsql_generated_scan": Q_FSQL_GENERATED_SQL,
    "q_fsql_fixed_columns": Q_FSQL_FIXED_SQL,
    "q_fsql_orc_scan": Q_FSQL_ORC_SQL,
    "q_fsql_jsongz_scan": Q_FSQL_JSONGZ_SQL,
    "q_fsql_csv_scan": Q_FSQL_CSV_SQL,
    "q_fsql_compacted_scan": Q_FSQL_COMPACTED_SQL,
    "q_fsql_restated_scan": Q_FSQL_RESTATED_SQL,
    "q_fsql_drift_scan": Q_FSQL_DRIFT_SQL,
    "q_fsql_retention_scan": Q_FSQL_RETENTION_SQL,
    "q_fsql_sorted_scan": Q_FSQL_SORTED_SQL,
    "q_fsql_zorder_scan": Q_FSQL_ZORDER_SQL,
    "q_fsql_bucketed_join": Q_FSQL_BUCKETED_SQL,
    "q_fsql_manyfile_scan": Q_FSQL_MANYFILE_SQL,
}
