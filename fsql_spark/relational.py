"""Relational query catalog over the driver's TPC-H-ish testdata.

The reference delegates ALL relational compute to pandas/Dask after the scan
(`/root/reference/src/fsql/deser.py:30-31` — "apply any transformations later
on"); in this engine the returned DataFrame is a *Spark* DataFrame, so the
relational surface is Spark-native (SURVEY §2.5). This module is the
executable demonstration: joins (broadcast + shuffle, semi/anti), aggregations
(hash, rollup/cube), window functions, sorts/top-k, set operations, scalar
functions, JSON extraction, and time-window/sessionization over the events
table — each paired with a DuckDB oracle (see ``__spark_entry__``).

Conventions (driver correctness harness):
- every computed column is aliased identically in Spark and oracle SQL;
- double aggregates are rounded (2–4 dp) on BOTH sides so engine-dependent
  floating summation order can't flip the value hash;
- deterministic tiebreakers (keys) on every window ordering and LIMIT.

Scale notes are inline per query: broadcast hints for dimension tables,
single-shuffle groupings, AQE-friendly shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _fix_nanos(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def materialize_small(df: DataFrame, spark: SparkSession, name: str) -> DataFrame:
    """Materialize a SMALL aggregated frame to scratch parquet and return a
    fresh scan of it — the single-scan lever for plans that would otherwise
    recompute a fact-table aggregate on both sides of a self-join or once
    for a driver-scalar and again in the returned plan (Q2/Q11 shape).

    Why a temp-write and not persist/localCheckpoint: catalog entries must
    not leak executor storage (the cache-release gate asserts zero cached
    RDDs after entries run), and a persist would have to outlive the entry
    function to help. A parquet round-trip costs one small write + read and
    leaves ZERO executor state. The scratch root is the Spark warehouse dir,
    which on a real cluster is shared storage (HDFS/S3) visible to all
    executors — a driver-local tempdir would break off-driver reads.

    Deterministic per-``name`` path + overwrite: idempotent across runs, no
    accumulation. Concurrent runs of the SAME entry in one warehouse would
    race — the catalog driver runs entries sequentially; callers needing
    concurrency should pass distinct names."""
    root = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    path = f"{root}/_fsql_scratch/{name}"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (LTZ) regardless of how the
    parquet encoded it. The driver regenerates testdata between rounds and
    has shipped three physical encodings so far:

    - ``TIMESTAMP(NANOS)`` read as ``bigint`` under the ``nanosAsLong``
      legacy conf -> rebuild with integer div (double division drops ulps at
      ns magnitudes);
    - ``timestamp[us]`` isAdjustedToUTC=false -> reads as TIMESTAMP_NTZ;
      the NTZ wall-clock is treated as UTC *regardless of session TZ* (the
      plain NTZ->LTZ cast resolves in the caller's TZ, which would make the
      same logical data yield different ``unix_micros`` across physical
      encodings in non-UTC sessions): ``from_utc_timestamp(cast(ts), tz)``
      re-adds the session offset the cast subtracted, leaving the instant at
      wall-clock-as-UTC — identity under UTC sessions. (Wall-clocks inside a
      DST transition hour of the session zone are ambiguous by nature; the
      cast and the re-shift use the same zone rules, so the round trip stays
      consistent.)
    - ``timestamp[us]`` UTC-adjusted -> already TIMESTAMP, pass through.

    Works on batch and streaming DataFrames (pure column expressions)."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df = df.withColumn("ts", F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz))
    return df


def _fix_nanos(spark: SparkSession, sf_dir: str, pin_tz: bool = True) -> DataFrame:
    """Load the events table with ``ts`` normalized to TIMESTAMP (LTZ) —
    see ``normalize_events_ts`` for the per-encoding rules.

    These two confs are deliberately NOT save/restored: both are
    captured at ACTION time — nanosAsLong by the parquet schema converter on
    executors, timeZone by timestamp_micros/NTZ-cast/window alignment — so
    restoring them before the caller materializes the returned (lazy)
    DataFrame would break the read. nanosAsLong only affects TIMESTAMP(NANOS)
    files, which stock Spark cannot read at all; the UTC pin is the engine's
    documented session contract (session.SPARK_DEFAULTS). ``pin_tz=False``
    (used by the generic ``sql()`` table registration) skips the TZ pin so
    registering the events view does not change the caller's session-wide
    timestamp behavior — their windows then align to their OWN session TZ."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if pin_tz:
        # both timestamp_micros() and the NTZ->LTZ cast resolve against the
        # session TZ — pin UTC so catalog results don't depend on the
        # caller's session config (the driver harness brings its own
        # SparkSession)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_events_ts(df)


# --------------------------------------------------------------------------
# TPC-H-shaped core
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: single-pass partial+final hash aggregation over the fact
    table; no joins, one shuffle of 4 groups. Filter is pushed to the parquet
    scan (min/max rowgroup skipping)."""
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       ROUND(AVG(l_quantity), 2)                                            AS avg_qty,
       ROUND(AVG(l_extendedprice), 2)                                       AS avg_price,
       ROUND(AVG(l_discount), 4)                                            AS avg_disc,
       COUNT(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter broadcast into two fact
    joins, then top-10. customer(BUILDING) is small after the filter =>
    broadcast; orders⋈lineitem co-partitions on the join key (one shuffle)."""
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       CAST(o_orderdate AS DATE)                                        AS o_orderdate,
       o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: star join — region/nation/supplier broadcast (tiny),
    customer⋈orders⋈lineitem shuffled on keys. One aggregation by nation."""
    region = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    supplier = _t(spark, sf, "supplier")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .where(cust.c_nationkey == supplier.s_nationkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches the
    parquet reader (PushedFilters) — the whole query is one codegen stage."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.06
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (Spark picks
    broadcast/shuffled-hash semi automatically)."""
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    shipped_late = li.join(
        orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).where(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey").distinct()
    return (
        orders.join(shipped_late, orders.o_orderkey == shipped_late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation flow analysis — double nation join with a
    disjunctive nation-pair predicate, grouped by both ends + year."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    supplier = _t(spark, sf, "supplier")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    li = _t(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_effect(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue share)."""
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(F.round(100 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


Q14_SQL = """
SELECT ROUND(100 * SUM(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join + two-level aggregation (count of
    counts) — the distribution query. One shuffle per aggregation level."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").where(~F.col("o_orderpriority").startswith("1"))
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority NOT LIKE '1%'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate + join — the plan Catalyst produces for
    the correlated SQL form, written explicitly."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").where(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.8).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.8 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q18_large_volume_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped fact feeding a semi join back
    into the detail tables."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE)   AS o_orderdate,
       ROUND(o_totalprice, 2)      AS o_totalprice,
       ROUND(total_qty, 2)         AS total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunctive predicate groups across the join —
    exercises predicate normalization/pushdown (Catalyst extracts the common
    join key and pushes the per-branch filters)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity") >= 15))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q19_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 15)
"""


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio over a
    7-table star (all dims broadcast, facts shuffle once on the join keys)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf, "customer")
    supplier = _t(spark, sf, "supplier")
    part = _t(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by (supplier nation, year).
    DEVIATION (documented): testdata has no partsupp table, so the
    ps_supplycost term is dropped — profit = discounted revenue."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    supplier = _t(spark, sf, "supplier")
    part = _t(spark, sf, "part").where(F.col("p_name").contains("widget"))
    nation = _t(spark, sf, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            # sum in DECIMAL(18,4): double summation order differs between
            # engines and flips the 2dp rounding at ~175 groups; the decimal
            # sum is exact, so both engines round the same value
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q12_late_shipment_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix by shipping-delay class.
    DEVIATION (documented): testdata lineitem has no
    l_shipmode/l_commitdate/l_receiptdate — the class is derived from the
    ship delay (l_shipdate - o_orderdate > 60 days => 'LATE')."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    bucket = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, F.lit("LATE")
    ).otherwise(F.lit("ONTIME"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy(bucket.alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
            THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: revenue "view" per supplier over a quarter, then the
    supplier(s) achieving the maximum (scalar-subquery comparison). Revenue
    rounded to 2dp on BOTH engines before the max-equality so summation-order
    ulps can't break the tie."""
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = _t(spark, sf, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == F.col("m"))
        .join(F.broadcast(supplier), F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute triple.
    DEVIATION (documented): no partsupp table — lineitem serves as the
    observed part<->supplier relation."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY 1, 2, 3
"""


def q20_part_promotion_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with significant stock movement of a part
    family, semi-joined back to names + nation.
    DEVIATION (documented): no partsupp/availqty — the threshold applies to
    shipped quantity observed in lineitem during 1996."""
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf, "part").where(F.col("p_name").startswith("small"))
    supplier = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(heavy, supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 50
)
"""


def q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-late-supplier-in-a-multi-supplier-order
    pattern (EXISTS + NOT EXISTS), expressed as per-order supplier/late
    counts — the decorrelated plan Catalyst would produce.
    DEVIATION (documented): no l_commitdate/l_receiptdate — "late" means
    shipped > 30 days after the order date."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    supplier = _t(spark, sf, "supplier")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 30).alias("late"),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("supp_late").alias("n_late")
    )
    waiting = (
        per_supp.where(F.col("supp_late") == 1)
        .join(per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1)), "l_orderkey")
    )
    return (
        waiting.join(F.broadcast(supplier), waiting.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_supp AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
  FROM lines GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(supp_late) AS n_late
  FROM per_supp GROUP BY 1
)
SELECT s_name, COUNT(*) AS numwait
FROM per_supp
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q22_global_sales_opportunity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers by country code.
    DEVIATION (documented): no c_phone in testdata — the "country code" is
    c_nationkey % 5; "dormant" means no orders on/after 1999-01-01 (every
    customer has SOME order in this synthetic data). The average-balance
    threshold is rounded to 2dp on both engines (ulp hazard)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = round(
        cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).collect()[0][0] or 0.0, 2
    )
    rich = cust.where(F.col("c_acctbal") > F.lit(avg_bal))
    dormant = rich.join(
        orders.select("o_custkey"), rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return (
        dormant.groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
       COUNT(*)                 AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY 1
"""


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier within a region — the
    classic correlated-MIN subquery, expressed as the decorrelated plan
    (per-part min joined back on equality).
    DEVIATION (documented): no partsupp/ps_supplycost — the observed unit
    cost MIN(l_extendedprice / l_quantity) per (part, supplier) from
    lineitem serves as the supply cost. Costs rounded to 2dp on BOTH
    engines before the min-equality so division ulps can't break ties.
    Scale: the part/supplier dims broadcast; the one shuffle is the
    (partkey, suppkey) aggregate over lineitem — partial-agg combines
    map-side. The region-filtered semi-join prunes suppliers BEFORE the
    per-part min, so the min is taken over exactly the eligible set."""
    part = _t(spark, sf, "part").where(
        (F.col("p_size") == 15) | (F.col("p_type") == "SMALL")
    )
    region = _t(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
    )
    supplier = _t(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey
    )
    li = _t(spark, sf, "lineitem")
    cost = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(supplier.select(F.col("s_suppkey").alias("ss"))),
            li.l_suppkey == F.col("ss"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias("supplycost"))
    )
    # single-scan: the per-part minimum comes from a WINDOW over the
    # aggregated cost frame instead of a min-equality self-join — one
    # lineitem scan, no scratch materialization (r8 used a parquet
    # temp-write here; its fixed write cost dominated at sf0.1 — 2.18x
    # vs r7 — while the window pays only one small shuffle of the
    # already-aggregated (partkey, suppkey) frame and keeps zero
    # executor/scratch state; at 100 TB that frame is the per-key
    # aggregate, orders of magnitude below lineitem)
    cost = cost.withColumn(
        "min_cost",
        F.min("supplycost").over(Window.partitionBy("l_partkey")),
    )
    return (
        cost.where(F.col("supplycost") == F.col("min_cost"))
        .join(F.broadcast(supplier), cost.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(part), cost.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("supplycost").alias("supplycost"),
        )
    )


Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         ROUND(MIN(l_extendedprice / l_quantity), 2) AS supplycost
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15 OR p_type = 'SMALL')
    AND l_suppkey IN (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
  GROUP BY 1, 2
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supplycost
FROM cost
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN part     ON l_partkey = p_partkey
WHERE supplycost = (SELECT MIN(c2.supplycost) FROM cost c2 WHERE c2.l_partkey = cost.l_partkey)
"""


def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value held by one region's suppliers,
    HAVING value > a scalar-aggregate threshold — the decorrelated form:
    the grouped frame is computed once (persisted), its threshold reduced
    to ONE driver scalar (the q22 pattern — a 1-row inequality join would
    compile to a BroadcastNestedLoopJoin), and applied as a literal
    filter.
    DEVIATION (documented): no partsupp/availqty — "stock value" is the
    observed SUM(l_extendedprice) per part shipped by EUROPE suppliers,
    and the threshold is 2x the MEAN part value (TPC-H's fixed
    fraction-of-total scales the threshold with corpus size and empties
    the result as parts multiply; the mean form is scale-invariant).
    Values rounded to 2dp on BOTH engines before the threshold compare."""
    region = _t(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
    )
    supplier = _t(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey
    )
    li = _t(spark, sf, "lineitem")
    value = (
        li.join(
            F.broadcast(supplier.select(F.col("s_suppkey").alias("ss"))),
            li.l_suppkey == F.col("ss"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_value"))
    )
    # single-scan (the q22 pattern + materialization): the grouped
    # aggregate is temp-written once, then BOTH the driver-scalar threshold
    # and the returned plan scan the tiny parquet — lineitem is read once.
    # F.round (half-up, matching SQL ROUND) — not Python round (banker's)
    value = materialize_small(value, spark, "q11_value")
    threshold = value.agg(
        F.round(F.avg("part_value") * 2, 2).alias("t")
    ).collect()[0][0] or 0.0
    return value.where(F.col("part_value") > F.lit(threshold)).select(
        "l_partkey", "part_value"
    )


Q11_SQL = """
WITH value AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice), 2) AS part_value
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE')
  GROUP BY 1
)
SELECT l_partkey, part_value
FROM value
WHERE part_value > (SELECT ROUND(AVG(part_value) * 2, 2) FROM value)
"""


# --------------------------------------------------------------------------
# windows / top-k / rollup / set ops / anti-semi
# --------------------------------------------------------------------------

def q_top_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group via ranking window; deterministic tiebreak on key.
    Scale: window shuffles once on p_brand; k-filter keeps state bounded."""
    part = _t(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    )


Q_TOP_PARTS_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rk
FROM (SELECT p_brand, p_partkey, p_name, p_retailprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
                                     ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
      FROM part)
WHERE rk <= 3
"""


def q_customer_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Running-sum window + last-row-per-group; two window functions sharing
    one partitioning => single shuffle."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wdesc = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("running_spend", F.round(F.sum("o_totalprice").over(w), 2))
        .withColumn("rn", F.row_number().over(wdesc))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("running_spend").alias("total_spend"),
        )
    )


Q_RUNNING_SQL = """
SELECT o_custkey,
       last_orderkey,
       total_spend
FROM (SELECT o_custkey,
             o_orderkey AS last_orderkey,
             ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey), 2) AS total_spend,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
WHERE rn = 1
"""


def q_rollup_returns(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets: partial aggregation expands grouping ids map-side;
    one shuffle for all levels."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


Q_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets over two dimensions (all 4 grouping combinations in
    one shuffle via grouping-id expansion)."""
    orders = _t(spark, sf, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


Q_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_pivot_priority_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: order counts per year spread across priority columns. The
    explicit value list matters at scale — without it Spark runs an extra
    distinct-collect job over the pivot column before planning."""
    orders = _t(spark, sf, "orders")
    p = (
        orders.withColumn("year", F.year("o_orderdate"))
        .groupBy("year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    # absent (year, priority) combos pivot to NULL; the CASE-sum oracle
    # yields 0 — align on 0 (also the analytically useful form)
    renames = {v: f"p{v[0]}_orders" for v in _PRIORITIES}
    return p.select(
        "year", *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(renames[v]) for v in _PRIORITIES]
    )


Q_PIVOT_SQL = """
SELECT EXTRACT(year FROM o_orderdate) AS year,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT'        THEN 1 END) AS p1_orders,
       COUNT(CASE WHEN o_orderpriority = '2-HIGH'          THEN 1 END) AS p2_orders,
       COUNT(CASE WHEN o_orderpriority = '3-MEDIUM'        THEN 1 END) AS p3_orders,
       COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4_orders,
       COUNT(CASE WHEN o_orderpriority = '5-LOW'           THEN 1 END) AS p5_orders
FROM orders
GROUP BY 1
"""


def q_grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): totals by
    (status, priority), by status alone, and grand total — one shuffle via
    grouping-id expansion, same engine path as rollup/cube. SQL surface
    (the DataFrame API exposes only rollup/cube in this Spark line)."""
    _t(spark, sf, "orders").createOrReplaceTempView("fsql_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM fsql_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


Q_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_price_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact DISCRETE quantiles per segment via ranking windows: the value at
    position ceil(q*n). Interpolated quantiles (percentile/quantile_cont)
    were rejected on purpose: midpoints of 2-decimal prices land exactly on
    .xx5 rounding boundaries where Spark's and DuckDB's midpoint formulas
    differ by one ulp — a systematic cross-engine hash hazard, not a fluke."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    ranked = joined.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment"))
    )
    at = lambda q: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("int"), F.col("o_totalprice"))
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.round(at(0.5), 2).alias("median_price"),
        F.round(at(0.9), 2).alias("p90_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


Q_QUANTILES_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment,
       ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS INTEGER) THEN o_totalprice END), 2) AS median_price,
       ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS INTEGER) THEN o_totalprice END), 2) AS p90_price,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM ranked
GROUP BY c_mktsegment
"""


def q_setops_nations(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT over distinct key sets (both compile to aggregated
    semi/anti joins in Spark)."""
    cust_nations = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nations = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cust_nations.intersect(supp_nations).withColumn("relation", F.lit("both"))
    cust_only = cust_nations.exceptAll(supp_nations).withColumn("relation", F.lit("customers_only"))
    return both.unionByName(cust_only)


Q_SETOPS_SQL = """
SELECT nationkey, 'both' AS relation
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customers_only' AS relation
FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
"""


def q_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join (NOT EXISTS). Legitimately empty on this synthetic data —
    the hash check still verifies the plan produces exactly the empty set."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


Q_ANTI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-function surface: string/date/math built-ins, all codegen'd
    JVM-side (no UDFs)."""
    orders = _t(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_label"),
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.length("o_orderstatus").alias("status_len"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod"),
    )


Q_SCALAR_SQL = """
SELECT o_orderkey,
       UPPER(SUBSTRING(o_orderpriority, 3, 20))    AS priority_label,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)    AS order_year,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS order_quarter,
       ROUND(SQRT(o_totalprice), 4)                AS price_sqrt,
       CAST(LENGTH(o_orderstatus) AS INTEGER)      AS status_len,
       CAST(o_orderkey % 7 AS BIGINT)              AS key_mod
FROM orders
"""


# --------------------------------------------------------------------------
# events: time windows, sessionization, JSON
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming op in
    fsql_spark.streaming): window() + groupBy, single shuffle."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*)               AS n_events,
       ROUND(SUM(value), 2)   AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + running sum — the batch
    twin of streaming session windows. Deterministic ordering tiebreak on
    event_id. One shuffle on user_id reused by both windows."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds on both engines (seconds-casts round
    # differently between Spark and DuckDB)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


Q_EVENTS_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def q_events_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON column extraction (semi-structured data path): get_json_object is
    codegen'd; no Python in the loop."""
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


Q_EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(*)                                                          AS n_events,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 2) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS max_k
FROM events
GROUP BY event_type
"""


def anomaly_flags(events: DataFrame, stats_source: DataFrame | None = None) -> DataFrame:
    """Shared z-score anomaly flagging: per-type mean/stddev trained on
    ``stats_source`` (default: ``events`` itself; the streaming twin passes
    the BATCH relation), broadcast back, map-only z >= 3 filter. The one
    definition both the batch entry and the streaming twin build on, so a
    guard or threshold change cannot drift between them (review find).

    sigma > 0 guard: a zero-variance type (single event, or all-equal
    values) has no defined z-score and must not ANSI-kill the job — the
    same degenerate-denominator class as cosine/gopher; mirrored in
    ``_ANOMALY_FLAGGED_CTE`` so oracle membership semantics stay
    identical."""
    src = stats_source if stats_source is not None else events
    stats = src.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        events.join(F.broadcast(stats), "event_type")
        .where(F.col("sigma") > 0)
        .withColumn("z", z)
        .where(F.col("z") >= 3.0)
    )


#: the SQL twin of anomaly_flags, shared by both anomaly oracles
_ANOMALY_FLAGGED_CTE = """stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_POP(value) AS sigma
  FROM events GROUP BY event_type
),
flagged AS (
  SELECT event_id, e.event_type, value, (value - mu) / sigma AS z
  FROM events e JOIN stats USING (event_type)
  WHERE sigma > 0 AND (value - mu) / sigma >= 3.0
)"""


def q_events_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Z-score outlier detection per event type: one tiny global aggregate
    (5 rows) broadcast back over the stream, map-only flagging — the shape a
    100 TB metric-anomaly scan needs (the stats relation is metadata; the
    event stream itself never shuffles). Threshold z >= 3; the testdata
    margin (no event within 1e-6 of the boundary) is pinned as a data
    property in tests/test_operators.py so cross-engine float-moment noise
    (~1e-12) cannot flip membership."""
    ev = _t(spark, sf, "events")
    return (
        anomaly_flags(ev)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("z", 3).alias("z"),
        )
        .orderBy("event_id")
    )


Q_EVENTS_ANOMALY_SQL = f"""
WITH {_ANOMALY_FLAGGED_CTE}
SELECT event_id, event_type,
       ROUND(value, 2) AS value,
       ROUND(z, 3)     AS z
FROM flagged
ORDER BY event_id
"""


def q_customer_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto concentration of revenue within each nation: customers ranked
    by lifetime revenue (desc, custkey tiebreak), each annotated with their
    cumulative share of the nation's total — the 80/20 audit ("how few
    customers carry this market"). Revenue is summed ONCE per customer
    (2dp-rounded so the cumulative numerator is a fixed decimal both
    engines add identically); rank and cumulative sums are per-nation
    windows over the customer-grain aggregate (the q_customer_rfm
    posture — no global sort). Only the top-10 per nation are reported."""
    orders = _t(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.desc("revenue"), "o_custkey"
    )
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy("c_nationkey")
    return (
        per_cust.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
            "revenue",
            F.row_number().over(w_rank).alias("rnk"),
            F.round(
                F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_tot), 4
            ).alias("cum_share"),
        )
        .where(F.col("rnk") <= 10)
        .orderBy("nationkey", "rnk")
    )


Q_CUSTOMER_PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY o_custkey
),
joined AS (
  SELECT c_nationkey AS nationkey, custkey, revenue
  FROM per_cust JOIN customer ON custkey = c_custkey
),
ranked AS (
  SELECT nationkey, custkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY nationkey ORDER BY revenue DESC, custkey) AS rnk,
         ROUND(SUM(revenue) OVER (PARTITION BY nationkey ORDER BY revenue DESC, custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(revenue) OVER (PARTITION BY nationkey), 4) AS cum_share
  FROM joined
)
SELECT nationkey, custkey, revenue, rnk, cum_share
FROM ranked WHERE rnk <= 10
ORDER BY nationkey, rnk
"""


_ROLL_W = 24  # trailing bins in the rolling baseline


def q_events_rolling_z(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-LOCAL anomaly detection: each (event_type, hour) bin scored
    against the trailing 24-hour baseline — the complement of
    q_events_anomaly's global z (a metric can be globally normal yet wildly
    off its recent trend, the on-call pager's actual question).

    The rolling moments are computed from EXPLICIT integer sums over the
    ROWS frame (sum and sum-of-squares of BIGINT counts are exact, the
    variance ``(n*sumsq - sum^2) / (n*(n-1))`` is one spelled-out float
    expression) — NOT the engines' stddev aggregates, whose internal
    algorithms (Welford vs two-pass) differ in the last ulps. Only bins
    with a FULL 24-bin history are scored. One hour-bin aggregate (map-side
    combinable) then a per-type ordered window: the windowed table is
    types x hours — metadata-sized next to the event stream."""
    ev = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts"))
    hour = 3600 * 1_000_000
    bins = (
        ev.withColumn("hour_us", us - F.pmod(us, F.lit(hour)))
        .groupBy("event_type", "hour_us")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(-_ROLL_W, -1)
    )
    stats = bins.select(
        "event_type",
        "hour_us",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("ss"),
    ).where(F.col("n") == _ROLL_W)
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    # zero-variance baselines are unscoreable: Spark(ANSI) raises
    # DIVIDE_BY_ZERO, DuckDB returns inf — exclude them with the EXACT
    # integer predicate (n*ss - s^2 > 0), not a float epsilon
    stats = stats.where((n * ss - s * s) > 0)
    var = (n * ss - s * s) / (n * (n - 1))
    z = (F.col("cnt") - (s / n)) / F.sqrt(var)
    return stats.select(
        "event_type",
        "hour_us",
        "cnt",
        F.round(z, 3).alias("z"),
    ).orderBy("event_type", "hour_us")


Q_EVENTS_ROLLING_Z_SQL = f"""
WITH bins AS (
  SELECT event_type,
         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hour_us,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, hour_us, cnt,
         COUNT(*) OVER w AS n,
         SUM(cnt) OVER w AS s,
         SUM(cnt * cnt) OVER w AS ss
  FROM bins
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN {_ROLL_W} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour_us, cnt,
       ROUND((cnt - (s / n)) / SQRT((n * ss - s * s) / (n * (n - 1))), 3) AS z
FROM stats WHERE n = {_ROLL_W} AND (n * ss - s * s) > 0
ORDER BY event_type, hour_us
"""


def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) without a
    single join: per user, running window flags mark whether an earlier
    stage already happened STRICTLY BEFORE the current event (frame ends at
    1 PRECEDING, ties broken on event_id), so each user's deepest reached
    stage falls out of one shuffle on user_id reused by both windows.
    The join-free shape is the 100 TB lever: the naive per-stage min-ts
    formulation re-joins the event log once per stage."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    is_view = F.when(F.col("event_type") == "view", 1).otherwise(0)
    stage2 = F.when(
        (F.col("event_type") == "click") & (F.max(is_view).over(prior) == 1), 1
    ).otherwise(0)
    flagged = ev.select("user_id", "ts", "event_id", "event_type", is_view.alias("s1"),
                        stage2.alias("s2"))
    stage3 = F.when(
        (F.col("event_type") == "purchase") & (F.max("s2").over(prior) == 1), 1
    ).otherwise(0)
    per_user = (
        flagged.withColumn("s3", stage3)
        .groupBy("user_id")
        .agg(F.max("s1").alias("r1"), F.max("s2").alias("r2"), F.max("s3").alias("r3"))
    )
    return per_user.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_view").alias("stage"), F.col("r1").alias("reached")),
                F.struct(F.lit("2_click_after_view").alias("stage"), F.col("r2").alias("reached")),
                F.struct(F.lit("3_purchase_after_click").alias("stage"), F.col("r3").alias("reached")),
            )
        ).alias("s")
    ).groupBy(F.col("s.stage").alias("stage")).agg(
        F.sum("s.reached").cast("long").alias("n_users")
    )


Q_EVENTS_FUNNEL_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s1,
         CASE WHEN event_type = 'click'
               AND MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = 1
              THEN 1 ELSE 0 END AS s2,
         event_type
  FROM events
),
staged AS (
  SELECT user_id, s1, s2,
         CASE WHEN event_type = 'purchase'
               AND MAX(s2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) = 1
              THEN 1 ELSE 0 END AS s3
  FROM flagged
),
per_user AS (
  SELECT user_id, MAX(s1) AS r1, MAX(s2) AS r2, MAX(s3) AS r3
  FROM staged GROUP BY user_id
)
SELECT '1_view' AS stage, CAST(SUM(r1) AS BIGINT) AS n_users FROM per_user
UNION ALL
SELECT '2_click_after_view', CAST(SUM(r2) AS BIGINT) FROM per_user
UNION ALL
SELECT '3_purchase_after_click', CAST(SUM(r3) AS BIGINT) FROM per_user
"""


def q_events_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention triangle: cohort = ISO week of each user's
    first event (a window MIN — no self-join), activity bucketed by week
    offset, COUNT(DISTINCT user) per (cohort, offset). Two shuffles total
    (user_id window, then the small cohort x offset agg); the fact table is
    scanned once. Week arithmetic stays on integer day diffs / 7 — Spark's
    and DuckDB's 'week' datediff units count boundary crossings
    differently, day diffs do not."""
    ev = _t(spark, sf, "events")
    wk = F.date_trunc("week", F.col("ts"))
    per_event = ev.select(
        "user_id",
        wk.cast("date").alias("week"),
        F.min(wk.cast("date")).over(Window.partitionBy("user_id")).alias("cohort_week"),
    )
    return (
        per_event.groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


Q_EVENTS_COHORT_SQL = """
WITH per_event AS (
  SELECT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         MIN(CAST(date_trunc('week', ts) AS DATE)) OVER (PARTITION BY user_id) AS cohort_week
  FROM events
)
SELECT cohort_week,
       CAST((week - cohort_week) // 7 AS INTEGER) AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT)    AS n_active_users
FROM per_event
GROUP BY 1, 2
"""


def basket_brand_pairs(li: DataFrame, part: DataFrame, support: int = 3) -> DataFrame:
    """Market-basket co-occurrence: brand pairs bought in the same order,
    kept at >= ``support`` orders. The dim (part -> brand) is broadcast;
    the fact self-join is keyed on l_orderkey so both sides hash to the
    SAME exchange (AQE reuses it) — and pairs are formed per order AFTER a
    distinct that caps each side at |brands per order|, so the blow-up is
    bounded by basket width, never by table size."""
    if support < 1:
        raise ValueError(f"support must be >= 1, got {support}")
    li = li.select("l_orderkey", "l_partkey")
    part = part.select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.alias("a")
    b = ob.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= support)
    )


def q_basket_brand_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog entry: brand-level pairs (not part-level) keep the output a
    dense ~25x25 triangle whose counts move at every sf; support=3 pins a
    selective-but-nonempty threshold for the oracle."""
    return basket_brand_pairs(
        _t(spark, sf, "lineitem"), _t(spark, sf, "part"), support=3
    )


Q_BASKET_BRAND_PAIRS_SQL = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM ob a JOIN ob b
  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def q_brand_cooccurrence_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative-filtering similarity at brand grain: cosine
    of the brands' order-occurrence vectors, computable from counts alone —
    ``cos(a,b) = n_ab / sqrt(n_a * n_b)`` (the binary-vector identity), so
    the whole statistic rides the one distinct (order, brand) aggregate:
    pair counts via the basket self-join, per-brand counts broadcast into
    the scoring projection. The recommender-shape workload over the same
    fact scan as q_basket_brand_pairs (support >= 3 keeps oracle parity
    with it)."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    ob2 = ob.select(
        F.col("l_orderkey").alias("o2"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        ob.join(ob2, (ob.l_orderkey == ob2.o2) & (ob.p_brand < ob2.brand_b))
        .groupBy(F.col("p_brand").alias("brand_a"), "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    occ = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    oa = occ.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    obr = occ.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    cosine = F.col("n_ab") / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
    return (
        pairs.join(F.broadcast(oa), "brand_a")
        .join(F.broadcast(obr), "brand_b")
        .select(
            "brand_a", "brand_b", "n_ab", F.round(cosine, 4).alias("cosine")
        )
        .orderBy("brand_a", "brand_b")
    )


Q_BRAND_COSINE_SQL = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
occ AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM ob GROUP BY p_brand)
SELECT pairs.brand_a, pairs.brand_b, pairs.n_ab,
       ROUND(pairs.n_ab / SQRT(CAST(oa.n AS DOUBLE) * ob2.n), 4) AS cosine
FROM pairs
JOIN occ oa ON pairs.brand_a = oa.p_brand
JOIN occ ob2 ON pairs.brand_b = ob2.p_brand
ORDER BY brand_a, brand_b
"""


def q_customer_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per customer the recency (days from their last
    order to the corpus's last order date), frequency (order count), and
    monetary total (2dp), each NTILE(4)-scored WITHIN THE CUSTOMER'S
    NATION under a fully deterministic order (metric, then custkey).

    Quartiles are per-nation on purpose: an UNPARTITIONED ntile is a
    single-task global sort (the scale-killer the CMS top-k fix removed),
    and cross-market value scores aren't comparable anyway — the same
    per-group-windows posture as q_price_quantiles. The window input is
    the customer-grain aggregate (orders collapse first), and the
    reference date comes back from one scalar action as a literal."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    ref_date = orders.agg(F.max("o_orderdate")).collect()[0][0]
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(F.lit(ref_date), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    # low recency = good, so r_score orders DESC (quartile 4 = most recent)
    r_w = Window.partitionBy("c_nationkey").orderBy(F.desc("recency_days"), "o_custkey")
    f_w = Window.partitionBy("c_nationkey").orderBy(F.col("frequency"), F.col("o_custkey"))
    m_w = Window.partitionBy("c_nationkey").orderBy(F.col("monetary"), F.col("o_custkey"))
    return per_cust.select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
    ).orderBy("custkey")


Q_CUSTOMER_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         date_diff('day', MAX(o_orderdate),
                   (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT custkey, c_nationkey AS nationkey, recency_days, frequency, monetary,
       NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY recency_days DESC, custkey) AS r_score,
       NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY frequency, custkey) AS f_score,
       NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY monetary, custkey) AS m_score
FROM per_cust JOIN customer ON custkey = c_custkey
ORDER BY custkey
"""


RELATIONAL_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q14_promo_effect": q14_promo_effect,
    "q13_customer_distribution": q13_customer_distribution,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q12_late_shipment_priority": q12_late_shipment_priority,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "q20_part_promotion_suppliers": q20_part_promotion_suppliers,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q_top_parts_per_brand": q_top_parts_per_brand,
    "q_customer_running_total": q_customer_running_total,
    "q_rollup_returns": q_rollup_returns,
    "q_cube_order_stats": q_cube_order_stats,
    "q_pivot_priority_by_year": q_pivot_priority_by_year,
    "q_grouping_sets_revenue": q_grouping_sets_revenue,
    "q_price_quantiles": q_price_quantiles,
    "q_setops_nations": q_setops_nations,
    "q_customers_without_orders": q_customers_without_orders,
    "q_scalar_functions": q_scalar_functions,
    "q_events_hourly": q_events_hourly,
    "q_events_sessionize": q_events_sessionize,
    "q_events_json": q_events_json,
    "q_events_anomaly": q_events_anomaly,
    "q_events_rolling_z": q_events_rolling_z,
    "q_events_funnel": q_events_funnel,
    "q_events_cohort_retention": q_events_cohort_retention,
    "q_basket_brand_pairs": q_basket_brand_pairs,
    "q_brand_cooccurrence_cosine": q_brand_cooccurrence_cosine,
    "q_customer_rfm": q_customer_rfm,
    "q_customer_pareto": q_customer_pareto,
}

RELATIONAL_ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q10_returned_items": Q10_SQL,
    "q14_promo_effect": Q14_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q12_late_shipment_priority": Q12_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_part_counts": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "q19_disjunctive_predicates": Q19_SQL,
    "q20_part_promotion_suppliers": Q20_SQL,
    "q21_waiting_supplier": Q21_SQL,
    "q22_global_sales_opportunity": Q22_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q11_important_stock": Q11_SQL,
    "q_top_parts_per_brand": Q_TOP_PARTS_SQL,
    "q_customer_running_total": Q_RUNNING_SQL,
    "q_rollup_returns": Q_ROLLUP_SQL,
    "q_cube_order_stats": Q_CUBE_SQL,
    "q_pivot_priority_by_year": Q_PIVOT_SQL,
    "q_grouping_sets_revenue": Q_GROUPING_SETS_SQL,
    "q_price_quantiles": Q_QUANTILES_SQL,
    "q_setops_nations": Q_SETOPS_SQL,
    "q_customers_without_orders": Q_ANTI_SQL,
    "q_scalar_functions": Q_SCALAR_SQL,
    "q_events_hourly": Q_EVENTS_HOURLY_SQL,
    "q_events_sessionize": Q_EVENTS_SESSIONS_SQL,
    "q_events_json": Q_EVENTS_JSON_SQL,
    "q_events_anomaly": Q_EVENTS_ANOMALY_SQL,
    "q_events_rolling_z": Q_EVENTS_ROLLING_Z_SQL,
    "q_events_funnel": Q_EVENTS_FUNNEL_SQL,
    "q_events_cohort_retention": Q_EVENTS_COHORT_SQL,
    "q_basket_brand_pairs": Q_BASKET_BRAND_PAIRS_SQL,
    "q_brand_cooccurrence_cosine": Q_BRAND_COSINE_SQL,
    "q_customer_rfm": Q_CUSTOMER_RFM_SQL,
    "q_customer_pareto": Q_CUSTOMER_PARETO_SQL,
}
