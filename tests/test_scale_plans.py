"""Plan-level scale assertions: the optimizations PERF.md claims are verified
against actual physical plans, so regressions that silently de-optimize
(broadcast lost, pushdown broken, bucketing ignored, pruning bypassed) fail
tests rather than surfacing at 100 TB."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fsql_spark import Q_EQ, Q_TRUE, read_partitioned_table, write_bucketed_table
from fsql_spark.relational import (
    q3_shipping_priority,
    q5_local_supplier_volume,
    q6_forecast_revenue,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_star_join_is_broadcast_single_shuffle(spark):
    plan = plan_of(q5_local_supplier_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") <= 1  # only the final agg


def test_q6_zero_shuffle_scan_agg(spark):
    plan = plan_of(q6_forecast_revenue(spark, SF))
    assert "Exchange hashpartitioning" not in plan
    # column pruning reaches the scan: only the 4 needed columns
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan


def test_q8_seven_table_star_is_broadcast_single_shuffle(spark):
    from fsql_spark.relational import q8_market_share

    plan = plan_of(q8_market_share(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange hashpartitioning") <= 1  # only the final agg


def test_q3_broadcasts_filtered_dimensions(spark):
    plan = plan_of(q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort


def test_fsql_catalog_fast_paths_prune_natively(spark):
    """The three fast-path fsql catalog entries must compile their queries
    into PartitionFilters (pruned at listing time) with NO post-scan filter
    — the claim COVERAGE.md/PERF.md make for the oracle-gated core scans."""
    import re

    from fsql_spark.fsql_catalog import (
        q_fsql_daterange_revenue,
        q_fsql_eq_in_pushdown,
        q_fsql_lexrange_revenue,
    )

    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    try:
        for fn in (q_fsql_daterange_revenue, q_fsql_lexrange_revenue, q_fsql_eq_in_pushdown):
            plan = plan_of(fn(spark, SF))
            m = re.search(r"PartitionFilters: \[([^\]]+)", plan)
            assert m and m.group(1).strip(), f"{fn.__name__}: no PartitionFilters\n{plan[:800]}"
            assert plan.count("Filter (") == 0, f"{fn.__name__}: post-scan Filter present"
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_orc_fast_path_prunes_and_projects(spark):
    """The ORC entry must get the same Catalyst treatment as parquet: an ORC
    scan (not a fallback), partition pruning at listing time, and the
    ``columns=`` projection reaching the scan's ReadSchema."""
    import re

    from fsql_spark.fsql_catalog import q_fsql_orc_scan

    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    try:
        plan = plan_of(q_fsql_orc_scan(spark, SF))
        assert "Scan orc" in plan or "OrcScan" in plan, plan[:400]
        m = re.search(r"PartitionFilters: \[([^\]]+)", plan)
        assert m and "year" in m.group(1), f"no ORC partition pruning\n{plan[:800]}"
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and m.group(1) == "o_totalprice:double", f"projection not pruned: {m and m.group(1)}"
        assert plan.count("Filter (") == 0, "post-scan Filter present"
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_partition_filters_reach_the_scan(spark, tmp_path):
    for v in ["a", "b"]:
        d = tmp_path / f"t/k={v}"
        d.mkdir(parents=True)
        pd.DataFrame({"x": [1]}).to_parquet(d / "f.parquet")
    df = read_partitioned_table(str(tmp_path / "t"), Q_EQ("k", "a"), spark=spark)
    plan = plan_of(df)
    assert "PartitionFilters: [arrays_overlap(array(array(k#" in plan
    # and NOT as a post-scan Filter on data
    assert plan.count("Filter (") == 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ["orders_b", "lineitem_b"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed_table(orders, "orders_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed_table(li, "lineitem_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    # at test scale the planner would rather broadcast the 1.5k-row dim; turn
    # broadcast off to expose the 100 TB-relevant shape (two big facts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = plan_of(joined)
        # co-located: bucketing replaces BOTH shuffles of the sort-merge join
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_driver_discovery_prunes_listings(spark, tmp_path):
    """eval_available prunes whole subtrees BEFORE any ls of their contents
    (the reference's core optimization, `partition_discovery.py:70`)."""
    from fsql_spark import AtomicQuery, LocalFileSystem

    for k in ["keep", "drop"]:
        for j in ["x", "y"]:
            d = tmp_path / f"t/k={k}/j={j}"
            d.mkdir(parents=True)
            pd.DataFrame({"v": [1]}).to_parquet(d / "f.parquet")

    listed: list[str] = []

    class CountingFS(LocalFileSystem):
        def ls(self, url):
            listed.append(url)
            return super().ls(url)

    # AtomicQuery forces the driver-discovery path
    q = AtomicQuery(lambda k: k == "keep")
    df = read_partitioned_table(str(tmp_path / "t"), q, fs=CountingFS(), spark=spark)
    assert df.count() == 2
    assert not any("k=drop" in u for u in listed), listed  # pruned subtree never listed


def test_generation_skips_listing_entirely(spark, tmp_path):
    from fsql_spark import AutoParser, LocalFileSystem

    d = tmp_path / "t/k=1"
    d.mkdir(parents=True)
    pd.DataFrame({"v": [1]}).to_parquet(d / "f.parquet")

    listed: list[str] = []

    class CountingFS(LocalFileSystem):
        def ls(self, url):
            listed.append(url)
            return super().ls(url)

    # declared values generate() the level without touching the FS;
    # only the terminal file listing needs one ls
    parser = AutoParser.from_str("k=1")
    df = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, column_parser=parser, fs=CountingFS(), spark=spark)
    assert df.count() == 1
    assert all("t/k=1" in u for u in listed), listed  # root level never listed


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-invariant: same rows as the plain join, with the
    salt spreading each key across n_salts join sub-keys."""
    from fsql_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderstatus")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderstatus").count()
    # disable broadcast so the salted shuffle path is actually exercised
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = (
            salted_join(
                li.withColumnRenamed("l_orderkey", "o_orderkey"),
                orders,
                on=["o_orderkey"],
                n_salts=8,
                salt_source="l_partkey",
            )
            .groupBy("o_orderstatus")
            .count()
        )
        a = {(r["o_orderstatus"], r["count"]) for r in plain.collect()}
        b = {(r["o_orderstatus"], r["count"]) for r in salted.collect()}
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hypertable_roundtrip_with_date_pruning(spark, tmp_path):
    """End-to-end time-partitioned table ("hypertable" shape): partition
    lineitem by ship year/month with write_table, query back through
    read_partitioned_table + DateRangeQuery(+day), verify (a) values match a
    direct filter of the source and (b) the scan prunes partitions."""
    from fsql_spark import DateRangeQuery, Q_AND, Q_EQ, write_table

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = (
        li.withColumn("year", F.year("l_shipdate").cast("string"))
        .withColumn("month", F.month("l_shipdate").cast("string"))
        .withColumn("day", F.dayofmonth("l_shipdate").cast("string"))
    )
    write_table(part, str(tmp_path / "li"), partition_by=["year", "month", "day"])

    q = DateRangeQuery("1996/02/01", "1996/04/01")
    out = read_partitioned_table(str(tmp_path / "li"), q, spark=spark)
    expected = li.where(
        (F.col("l_shipdate") >= "1996-02-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    assert out.count() == expected.count() > 0
    assert sorted(r["l_orderkey"] for r in out.select("l_orderkey").collect()) == sorted(
        r["l_orderkey"] for r in expected.select("l_orderkey").collect()
    )
    # the date predicate must reach PartitionFilters (pruned at listing time,
    # not post-scan); metadata strings truncate at 100 chars by default
    import re

    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = plan_of(read_partitioned_table(str(tmp_path / "li"), q, spark=spark))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
    m = re.search(r"PartitionFilters: \[(.+?)\]", plan)
    assert m and "arrays_overlap(array(array(year#" in m.group(1), plan[:1500]

    # composed with a partition equality: same pruning machinery
    both = read_partitioned_table(
        str(tmp_path / "li"), Q_AND(q, Q_EQ("month", "2")), spark=spark
    )
    feb = expected.where(F.month("l_shipdate") == 2)
    assert both.count() == feb.count()


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    """Small-file compaction: fragmented tree -> right-sized files, identical
    rows, layout measured before/after by file_stats."""
    from fsql_spark.maintenance import compact, file_stats

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    target = str(tmp_path / "frag")
    # fragment deliberately: 40 files per partition value
    li.withColumn("flag", F.col("l_returnflag")).repartition(40).write.partitionBy(
        "flag"
    ).parquet(target)
    before = file_stats(spark, target).agg(F.sum("n_files")).collect()[0][0]
    assert before > 60  # genuinely fragmented

    rows_before = li.count()
    compact(spark, target, target_file_bytes=64 * 1024 * 1024, partition_by=["flag"])
    after_stats = file_stats(spark, target)
    after = after_stats.agg(F.sum("n_files")).collect()[0][0]
    assert after < before / 10
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    assert spark.read.parquet(target).count() == rows_before
    # still a valid fsql-readable partitioned tree
    from fsql_spark import Q_EQ, read_partitioned_table

    sub = read_partitioned_table(target, Q_EQ("flag", "R"), spark=spark)
    assert sub.count() == li.where(F.col("l_returnflag") == "R").count()


def test_compaction_sizes_each_partition_value(spark, tmp_path):
    """Each partition value is rewritten as ceil(its bytes / target) files,
    not as one file per value however large: here 3 units of data under
    p=a and 1 under p=b, fragmented into 6 files per value."""
    from fsql_spark.maintenance import compact, file_stats

    root = str(tmp_path / "t")
    df = spark.range(40_000).select(
        F.when(F.col("id") % 4 == 0, "b").otherwise("a").alias("p"),
        F.sha2(F.col("id").cast("string"), 256).alias("s"),
    )
    df.repartition(6).write.partitionBy("p").parquet(root)
    before = {r.partition: r.total_bytes for r in file_stats(spark, root).collect()}
    target = (before["p=a"] + before["p=b"]) // 5
    want = {k: -(-size // target) for k, size in before.items()}
    assert want["p=a"] >= 3 and want["p=b"] >= 1 and want["p=a"] > want["p=b"]

    compact(spark, root, target_file_bytes=target, partition_by=["p"])
    after = {r.partition: r for r in file_stats(spark, root).collect()}
    assert {k: r.n_files for k, r in after.items()} == want
    # rows are dealt round-robin: the files of a value are near-equal in size
    for r in after.values():
        assert r.max_bytes <= 1.2 * target
    got = read_partitioned_table(root, Q_TRUE, spark=spark)
    assert sorted(got.select("p", "s").collect()) == sorted(df.collect())


def test_packed_tasks_send_each_slot_to_its_task(spark):
    """The packing takes slots in order into tasks of up to one target: a
    value of 2.5 targets fills three tasks of its own, two small values
    share the next and the Hive NULL value, too big to join them, takes the
    last. ``repartitionById`` lands every row in the task packed for it."""
    from fsql_spark.maintenance import _packed_tasks

    df = spark.createDataFrame(
        [(v, i) for v, k in [("big", 60), ("s1", 5), ("s2", 5), (None, 10)] for i in range(k)],
        "v string, i int",
    )
    bytes_of = {("big",): 250, ("s1",): 20, ("s2",): 20, (None,): 90}
    n, task = _packed_tasks(df, ["v"], bytes_of, 100)
    assert n == 5
    out = df.repartitionById(n, task)
    got = out.groupBy(F.spark_partition_id().alias("t"), "v").count().collect()
    tasks_of: dict = {}
    for r in got:
        tasks_of.setdefault(r.v, set()).add(r.t)
    # each value fills exactly the tasks the packing chose
    assert tasks_of == {"big": {0, 1, 2}, "s1": {3}, "s2": {3}, None: {4}}
    # two slots of one value never share a task, and no other value joins them
    assert sorted(r.t for r in got if r.t < 3) == [0, 1, 2]
    assert sum(r["count"] for r in got if r.v == "big") == 60


def test_compaction_flattens_an_unpartitioned_table(spark, tmp_path):
    """A table without Hive keys counts as one value: its 6 small files
    become ceil(total / target) files, rows unchanged."""
    import os

    from fsql_spark.maintenance import compact, file_stats

    root = str(tmp_path / "t")
    df = spark.range(20_000).select("id", F.sha2(F.col("id").cast("string"), 256).alias("s"))
    df.repartition(6).write.parquet(root)
    [stats] = file_stats(spark, root).collect()
    assert stats.n_files == 6
    target = stats.total_bytes // 3 + 1
    compact(spark, root, target_file_bytes=target)
    [after] = file_stats(spark, root).collect()
    assert after.partition == "" and after.n_files == -(-stats.total_bytes // target) == 3
    assert not [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))]
    got = read_partitioned_table(root, Q_TRUE, spark=spark)
    assert sorted(got.collect()) == sorted(df.collect())


def test_compaction_with_no_keys_flattens_a_hive_table(spark, tmp_path):
    """``partition_by=[]`` writes a keyed table flat: its keys become data
    columns, the table ceil(total / target) files, rows unchanged."""
    import os

    from fsql_spark import write_table
    from fsql_spark.maintenance import compact, file_stats

    root = str(tmp_path / "t")
    df = spark.range(20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("s"), (F.col("id") % 3).cast("string").alias("p")
    )
    write_table(df.repartition(4), root, partition_by=["p"])
    want = sorted(read_partitioned_table(root, Q_TRUE, spark=spark).collect())
    total = sum(r.total_bytes for r in file_stats(spark, root).collect())
    target = total // 2 + 1
    compact(spark, root, target_file_bytes=target, partition_by=[])
    assert not [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))]
    [after] = file_stats(spark, root).collect()
    assert after.n_files == -(-total // target) == 2
    assert sorted(read_partitioned_table(root, Q_TRUE, spark=spark).collect()) == want


def test_compaction_on_one_task_plans_a_single_partition(spark, tmp_path, monkeypatch):
    """A table far below the target (the benchmark's shape: several ``lang``
    values) is written from one task with no per-row task lookup."""
    from fsql_spark import write_table
    from fsql_spark.maintenance import compact

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr", "ja"][i % 4]) for i in range(200)], "id long, lang string"
    )
    write_table(df.repartition(3), root, partition_by=["lang"])
    plans = []
    frame = type(df)
    repartition_by_id = frame.repartitionById

    def recording(self, *args):
        out = repartition_by_id(self, *args)
        plans.append(plan_of(out))
        return out

    monkeypatch.setattr(frame, "repartitionById", recording)
    compact(spark, root)
    [plan] = plans
    assert "SinglePartition" in plan
    assert "element_at" not in plan and "monotonically_increasing_id" not in plan
    assert sorted(read_partitioned_table(root, Q_TRUE, spark=spark).collect()) == sorted(
        df.select("id", "lang").collect()
    )


def test_compaction_keeps_the_hive_layout_by_default(spark, tmp_path):
    """Without ``partition_by`` the rewrite keeps every key the read binds,
    the NULL and escaped values included; ``partition_by`` must name keys
    of the tree."""
    import os

    from fsql_spark import write_table
    from fsql_spark.maintenance import compact

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, str(i % 2), [None, "a/b", "c"][i % 3]) for i in range(30)],
        "id long, p string, q string",
    )
    write_table(df.repartition(5), root, partition_by=["p", "q"])

    def layout():  # leaf directory -> parquet files in it
        return {
            os.path.relpath(d, root): sum(f.endswith(".parquet") for f in files)
            for d, _, files in os.walk(root)
            if any(f.endswith(".parquet") for f in files)
        }

    leaves = sorted(layout())
    assert len(leaves) == 6 and "p=0/q=a%2Fb" in leaves
    assert "p=1/q=__HIVE_DEFAULT_PARTITION__" in leaves
    want = sorted(read_partitioned_table(root, Q_TRUE, spark=spark).collect())

    compact(spark, root)
    assert layout() == dict.fromkeys(leaves, 1)
    assert sorted(read_partitioned_table(root, Q_TRUE, spark=spark).collect()) == want
    with pytest.raises(ValueError, match="partition keys"):
        compact(spark, root, partition_by=["id"])


def test_overwrite_partitions_touches_only_present_partitions(spark, tmp_path):
    """Dynamic partition overwrite: re-landing one month replaces that month
    and leaves the others byte-identical — the idempotent-backfill contract."""
    import pandas as pd

    from fsql_spark.api import read_partitioned_table, write_table
    from fsql_spark.maintenance import overwrite_partitions
    from fsql_spark.queries import Q_TRUE

    target = str(tmp_path / "incr")
    base = spark.createDataFrame(
        [(m, i, float(i)) for m in (1, 2, 3) for i in range(10)],
        "month int, k int, v double",
    ).withColumn("month", F.col("month").cast("string"))
    write_table(base, target, partition_by=["month"])

    # restate month 2 with different rows; months 1/3 absent from the frame
    restated = spark.createDataFrame(
        [("2", 99, 42.0), ("2", 98, 41.0)], "month string, k int, v double"
    )
    overwrite_partitions(restated, target, partition_by=["month"])

    out = read_partitioned_table(target, Q_TRUE, spark=spark).toPandas()
    by_month = out.groupby("month").size().to_dict()
    assert by_month == {"1": 10, "2": 2, "3": 10}
    assert set(out[out["month"] == "2"]["k"]) == {98, 99}
    # static overwrite semantics must NOT have leaked: conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC").upper()
        == "STATIC"
    )


def test_pack_shards_single_shuffle_per_partitioning(spark):
    """Partitioned packing = one Exchange (hashpartitioning on the group
    cols) + in-partition sort; no global single-task window."""
    from fsql_spark.operators import pack_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = pack_shards(docs, "doc_id", "n_chars", budget=10_000, partition_cols=["lang"])
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan
    # the unpartitioned form IS the global window — documented, discouraged
    global_plan = (
        pack_shards(docs, "doc_id", "n_chars", budget=10_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" in global_plan


def test_write_sorted_table_produces_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered layout: every output file covers a disjoint range of
    the sort key (parquet footer min/max), so selective scans can skip whole
    files — assert the actual footer statistics, not just the plan."""
    import glob

    import pyarrow.parquet as pq

    from fsql_spark.api import write_sorted_table

    target = str(tmp_path / "sorted")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    write_sorted_table(orders, target, sort_cols=["o_totalprice"], n_files=4)

    ranges = []
    for f in glob.glob(f"{target}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("o_totalprice")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2  # range partitioning actually split the data
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # row count preserved
    back = spark.read.parquet(target)
    assert back.count() == orders.count()


def test_dedup_against_is_anti_join_of_hashes_only(spark):
    """Incremental dedup: the corpus side must collapse to DISTINCT 32-byte
    hashes (map-side-combinable aggregate) feeding ONE left-anti join — the
    shape where a 100 TB corpus shuffles only its hash set, never rows."""
    from fsql_spark.operators import dedup_against

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = docs.limit(50)
    plan = plan_of(dedup_against(batch, docs, ["text"]))
    assert "LeftAnti" in plan
    assert plan.count("LeftAnti") == 1
    assert "HashAggregate" in plan  # the distinct on the corpus hash set
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_has_no_cartesian_and_narrow_bucket_join(spark):
    """The LSH candidate stage must be an equi-join on (band, bucket) —
    never a cross product — and the signature/shingle arrays must not ride
    the bucket-join shuffle (only re-attached to surviving candidates)."""
    from fsql_spark.operators import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, ngram=3)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # candidate join keys are the band/bucket pair, not signatures
    assert "bucket" in plan
    df.sparkSession.catalog.clearCache()


def test_catalog_bucketed_pair_joins_without_exchange(spark):
    """The CATALOG's bucketed tables (not just the synthetic pytest pair)
    must deliver the co-located join: with broadcast ruled out, the join is
    a SortMergeJoin with NO Exchange feeding either side — the write-time
    bucket shuffle is the only shuffle that ever happens."""
    from fsql_spark.fsql_catalog import _bucketed_pair

    t_orders, t_cust = _bucketed_pair(spark, SF)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(t_orders)
        c = spark.table(t_cust)
        joined = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan[:400]
        assert "Exchange" not in plan, f"bucketed catalog join still shuffles\n{plan[:800]}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stream_sink_tree_is_fast_path_readable(spark):
    """The streaming sink's _spark_metadata log must NOT survive into the
    finished tree: Spark prefers the metadata log over listing, and after
    the staging rename its absolute paths dangle — a batch read would throw
    or silently fall off the Catalyst fast path. Guard: plain spark.read
    works AND the catalog entry's plan prunes partitions natively."""
    import os
    import re

    from fsql_spark.streaming.windows import q_stream_sink_roundtrip, stream_sink_tree

    url = stream_sink_tree(spark, SF)
    assert not os.path.exists(f"{url}/_spark_metadata")
    assert spark.read.parquet(url).count() > 0  # plain batch read succeeds
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    try:
        plan = plan_of(q_stream_sink_roundtrip(spark, SF))
        m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
        assert m and "event_type" in m.group(1), f"not pruning natively\n{plan[:800]}"
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_signature_cache_path_never_rehashes(spark):
    """The compute-once signature lifecycle's core claim, plan-verified:
    pairs built from a materialized signature table must contain NO Python
    evaluation node (the minhash kernel ran once at write time) — the plan
    is parquet scan of the cache + banded bucket join + verify joins."""
    from fsql_spark.operators.dedup import corpus_signatures_cached, minhash_lsh_pairs

    sigs = corpus_signatures_cached(spark, SF, num_hashes=64, ngram=3)
    pairs = minhash_lsh_pairs(
        None, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, ngram=3, sigs=sigs
    )
    plan = plan_of(pairs)
    # substrings cover every Python-eval physical node family:
    # ArrowEvalPython / BatchEvalPython ("EvalPython"), MapInPandas /
    # FlatMapGroupsInPandas / FlatMapCoGroupsInPandas ("InPandas")
    for marker in ("EvalPython", "InPandas"):
        assert marker not in plan, f"signature-cache path re-runs Python: {marker}"
    assert "sigs_documents" in plan, "pairs do not scan the materialized cache"


def test_brute_force_similarity_corpus_never_shuffles(spark):
    """Embedding brute-force: corpus flows scan -> mapInPandas with NO
    Exchange before the kernel (queries broadcast in the closure)."""
    from fsql_spark.operators.similarity import brute_force_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5)
    plan = plan_of(brute_force_pairs(emb, qs, "vec_id", "embedding", threshold=0.3))
    before_kernel = plan.split("MapInPandas")[-1]  # executed plan prints top-down
    assert "Exchange" not in before_kernel


def test_duplicated_passages_partial_aggregates_before_shuffle(spark):
    """Window generation is a JVM Generate (no Python eval); the duplication
    count partial-aggregates map-side so the exchange carries (passage,
    partial counts), and there is exactly one aggregation shuffle."""
    from fsql_spark.operators import duplicated_passages

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(duplicated_passages(docs, "doc_id", "text", k=8))
    assert "Generate" in plan
    assert "EvalPython" not in plan  # no Python in the hot path
    # partial_count before the exchange (HashAggregate appears above AND
    # below the exchange: final + partial)
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_shuffle_deterministic_never_single_partition(spark):
    """The epoch-shuffle rank must decompose over hash-prefix bands — a
    SinglePartition window here is the 100 TB regression this test exists
    to catch."""
    from fsql_spark.operators import shuffle_deterministic

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(shuffle_deterministic(docs, "doc_id", seed=42))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_bloom_prefilter_feeds_the_anti_join(spark):
    """dedup_against_bloom: the anti-join's left leg is the might-contain
    slice (bloom-positive rows), and the definitely-novel branch bypasses
    the join entirely."""
    from fsql_spark.operators import dedup_against_bloom
    from fsql_spark.operators.dedup import _incremental_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = _incremental_batch(spark, "/root/testdata/sf0.001")
    plan = plan_of(dedup_against_bloom(batch, docs, ["text"], normalize=True))
    assert "LeftAnti" in plan
    # the _might UDF appears in BOTH branches of the union (kept + filtered)
    assert plan.count("_might") >= 2


def test_strip_passages_no_cartesian_bounded_exchanges(spark):
    """The span-stripping rewrite: window/token explosions are Generates,
    joins are keyed (no cartesian), and the whole pipeline stays within a
    bounded exchange budget (passage agg + join + coverage distinct +
    anti-join + per-doc rebuild)."""
    from fsql_spark.operators import strip_duplicated_passages

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(strip_duplicated_passages(docs, "doc_id", "text", k=8))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan  # JVM-only hot path
    assert plan.count("Generate") >= 2  # windows + tokens are flatMaps
    # 11 today: the window subtree instantiates twice (stats + removal
    # branches, each with its single-file spread) plus the keyed agg/join
    # exchanges — all keyed and data-proportional; the guard is the CLASS
    # of operator (no cartesian, no Python), plus a ceiling against
    # accidental plan explosion
    assert plan.count("Exchange") <= 12


def test_schema_drift_tree_union_semantics(spark):
    """Partitions written after a schema evolution carry o_channel; the
    merged scan surfaces the union schema with NULLs for history — per-file
    pandas-concat semantics from ONE Catalyst scan."""
    from fsql_spark import Q_TRUE, read_partitioned_table
    from fsql_spark.fsql_catalog import _orders_drift_tree
    from fsql_spark.readers import SparkReader

    url = _orders_drift_tree(spark, "/root/testdata/sf0.001")
    df = read_partitioned_table(
        url, Q_TRUE, data_reader=SparkReader(options={"mergeSchema": "true"}), spark=spark
    )
    assert "o_channel" in df.columns
    per_year = {
        r["year"]: r["n"]
        for r in df.where(F.col("o_channel").isNull())
        .groupBy("year")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_year and all(y < "1996" for y in per_year)  # NULLs only pre-drift
    assert df.where((F.col("year") >= "1996") & F.col("o_channel").isNull()).count() == 0


def test_drop_partitions_dry_run_granularity_and_pruning(spark, tmp_path):
    """Retention semantics: dry_run lists without deleting; deletion is per
    leaf directory; discovery prunes unmatched branches before listing them
    (retention on a huge tree stats only the expiring subtree)."""
    from fsql_spark import LocalFileSystem, Q_EQ
    from fsql_spark.maintenance import drop_partitions

    for y in ["2020", "2021"]:
        for m in ["1", "2"]:
            d = tmp_path / f"t/year={y}/month={m}"
            d.mkdir(parents=True)
            pd.DataFrame({"v": [1]}).to_parquet(d / "f.parquet")

    listed: list[str] = []

    class CountingFS(LocalFileSystem):
        def ls(self, url):
            listed.append(url)
            return super().ls(url)

    planned = drop_partitions(str(tmp_path / "t"), Q_EQ("year", "2020"), dry_run=True)
    assert len(planned) == 2 and all("year=2020" in d for d in planned)
    assert (tmp_path / "t/year=2020/month=1/f.parquet").exists()  # nothing deleted

    deleted = drop_partitions(str(tmp_path / "t"), Q_EQ("year", "2020"), fs=CountingFS())
    assert deleted == planned
    assert not (tmp_path / "t/year=2020/month=1").exists()
    assert (tmp_path / "t/year=2021/month=2/f.parquet").exists()  # survivors intact
    assert not any("year=2021" in u for u in listed)  # kept branch never listed

    df = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    assert df.count() == 2 and {r["year"] for r in df.collect()} == {"2021"}


def test_drop_partitions_prunes_empty_ancestors_keeps_fast_path(spark, tmp_path):
    """After retention the lexicographically-first branch must not dead-end
    in an emptied directory: the Catalyst fast path's first-leaf probe
    would fall back to driver discovery for every future read."""
    from fsql_spark.maintenance import drop_partitions

    for y in ["2019", "2024"]:
        d = tmp_path / f"t/year={y}/month=1"
        d.mkdir(parents=True)
        pd.DataFrame({"v": [1]}).to_parquet(d / "f.parquet")
    drop_partitions(str(tmp_path / "t"), Q_EQ("year", "2019"))
    assert not (tmp_path / "t/year=2019").exists()  # ancestor pruned, not just the leaf
    df = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    plan = plan_of(df)
    # ONE native scan = the fast path; driver fallback unions literal frames
    assert plan.count("FileScan parquet") == 1 and "Union" not in plan
    assert df.count() == 1


def test_drop_partitions_filename_binding_deletes_files_not_dirs(spark, tmp_path):
    """Under a filename-binding parser a query can match a subset of one
    directory's files; erasure must be per matched FILE — deleting the
    directory would destroy unmatched data."""
    from fsql_spark import FixedColumnsParser, Q_EQ
    from fsql_spark.maintenance import drop_partitions

    d = tmp_path / "t/2020"
    d.mkdir(parents=True)
    pd.DataFrame({"v": [1]}).to_parquet(d / "clicks.parquet")
    pd.DataFrame({"v": [2]}).to_parquet(d / "purchases.parquet")
    parser = FixedColumnsParser.from_str("dt/event")
    deleted = drop_partitions(
        str(tmp_path / "t"), Q_EQ("event", "clicks.parquet"), column_parser=parser
    )
    assert len(deleted) == 1 and deleted[0].endswith("clicks.parquet")
    assert not (d / "clicks.parquet").exists()
    assert (d / "purchases.parquet").exists()  # unmatched neighbor survives


def test_drop_partitions_prunes_marker_only_dirs_fail_safe(spark, tmp_path):
    """A branch emptied down to _SUCCESS/.crc markers is still a fast-path
    dead-end, so pruning removes marker-only dirs; removal uses the
    non-recursive rmdir so a concurrent write makes it fail safe instead of
    destroying new data."""
    from fsql_spark.maintenance import drop_partitions

    for y in ["2019", "2024"]:
        d = tmp_path / f"t/year={y}/month=1"
        d.mkdir(parents=True)
        pd.DataFrame({"v": [1]}).to_parquet(d / "f.parquet")
    (tmp_path / "t/year=2019/_SUCCESS").write_text("")  # writer marker
    drop_partitions(str(tmp_path / "t"), Q_EQ("year", "2019"))
    assert not (tmp_path / "t/year=2019").exists()  # marker didn't block pruning
    df = read_partitioned_table(str(tmp_path / "t"), Q_TRUE, spark=spark)
    assert plan_of(df).count("FileScan parquet") == 1  # fast path intact

    # filename-binding: the .crc sibling of a deleted file doesn't pin the dir
    from fsql_spark import FixedColumnsParser

    d2 = tmp_path / "u/2020"
    d2.mkdir(parents=True)
    pd.DataFrame({"v": [1]}).to_parquet(d2 / "clicks.parquet")
    (d2 / ".clicks.parquet.crc").write_text("")
    drop_partitions(
        str(tmp_path / "u"),
        Q_EQ("event", "clicks.parquet"),
        column_parser=FixedColumnsParser.from_str("dt/event"),
    )
    assert not d2.exists()  # crc cleaned, dir pruned


def test_zorder_key_interleaves_and_localizes(spark, tmp_path):
    """Morton-key bit math is exact, and the written layout localizes BOTH
    dimensions (per-file span well under global span) where a linear sort
    localizes only its leading column."""
    from fsql_spark.api import write_zorder_table, zorder_key

    # bit-exactness: interleave(0b11, 0b01) = a bits at even, b at odd
    row = spark.range(1).select(
        zorder_key(F.lit(3), F.lit(1), bits=4).alias("z")
    ).collect()[0]
    # a=0b0011 -> positions 0,2 ; b=0b0001 -> position 1 => 0b000111 = 7
    assert row["z"] == 7

    from fsql_spark.fsql_catalog import per_file_col_ranges

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    dest = str(tmp_path / "zt")
    write_zorder_table(df, dest, ["x", "y"], n_files=16)
    ranges = per_file_col_ranges(dest, ["x", "y"])
    for col, width in (("x", 63), ("y", 63)):
        avg = sum(hi - lo for lo, hi in ranges[col]) / len(ranges[col])
        assert avg < 0.55 * width, f"{col}: avg span {avg} vs width {width}"

    # guard rails: empty input writes plainly; bits past the sign boundary refuse
    import pytest as _pytest

    write_zorder_table(df.where("x < 0"), str(tmp_path / "ze"), ["x", "y"], n_files=4)
    assert spark.read.parquet(str(tmp_path / "ze")).count() == 0
    with _pytest.raises(ValueError, match="bits"):
        write_zorder_table(df, str(tmp_path / "zb"), ["x", "y"], bits=32)


def test_doc_perplexity_broadcast_model_single_doc_exchange(spark):
    """LM scoring: the model joins as a BROADCAST (vocabulary is metadata,
    not data), the tf stream stays map-only (no exchange between the Python
    kernel and the join), and the per-document aggregate partial-aggregates
    before its single exchange."""
    from fsql_spark.operators.lm import doc_cross_entropy, unigram_model
    from fsql_spark.operators.vocab import term_frequencies

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tf = term_frequencies(docs).persist()
    model, oov_lp, _, _ = unigram_model(docs, top_k=30, tf=tf)
    plan = plan_of(doc_cross_entropy(docs, model, oov_lp, tf=tf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # partial + final HashAggregate around exactly one data exchange
    assert plan.count("HashAggregate") >= 2
    tf.unpersist()


def test_events_anomaly_stats_broadcast_back(spark):
    """Anomaly scan: the 5-row stats relation broadcasts back over the event
    stream — the stream itself is never exchanged for the join."""
    from fsql_spark.relational import q_events_anomaly

    plan = plan_of(q_events_anomaly(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_filter_is_map_only_expressions(spark):
    """Gopher rules are pure JVM expressions: no Python eval, and the only
    exchange is the per-language aggregate's."""
    from fsql_spark.operators.text import q_quality_filter

    plan = plan_of(q_quality_filter(spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_jsongz_scan_prunes_partitions(spark):
    """The gz-json tree reads through the same pruning machinery as
    parquet/ORC: the Q_IN partition predicate must reach the file index as
    a PartitionFilter, not survive as a post-scan Filter."""
    from fsql_spark.fsql_catalog import _docs_lang_jsongz_tree
    from fsql_spark import Q_IN, read_partitioned_table

    import re

    url = _docs_lang_jsongz_tree(spark, SF)
    df = read_partitioned_table(url, Q_IN("lang", ["en", "fr"]), spark=spark)
    plan = plan_of(df)
    # a NON-EMPTY PartitionFilters naming the partition column — an empty
    # list prints too, and the slow-path union also mentions 'lang', so the
    # weaker membership assertions are vacuous (caught by review: the
    # original form passed while the tree was demonstrably on the slow path)
    assert re.search(r"PartitionFilters: \[[^\]]*lang", plan), plan[:1500]
    # and the single-scan fast path, not the per-partition slow-path union
    assert plan.count("FileScan json") == 1


def test_csv_scan_prunes_partitions_fast_path(spark):
    """CSV leaves ride the same fast path: non-empty PartitionFilters on
    the brand predicate, single FileScan (no slow-path union)."""
    import re

    from fsql_spark.fsql_catalog import _part_brand_csv_tree
    from fsql_spark import Q_IN, read_partitioned_table

    url = _part_brand_csv_tree(spark, SF)
    df = read_partitioned_table(url, Q_IN("p_brand", ["Brand#11", "Brand#23"]), spark=spark)
    plan = plan_of(df)
    assert re.search(r"PartitionFilters: \[[^\]]*p_brand", plan), plan[:1500]
    assert plan.count("FileScan csv") == 1


def test_winnow_single_exchange_and_parallel_explode(spark):
    """Winnowing: exactly ONE Exchange — the explicit pre-explode
    repartition by doc, which the window's required distribution reuses.
    The round-8 sf10 sweep caught the alternative (window-inserted
    exchange AFTER the explosion): a one-row-group corpus file ran the
    whole explode+hash map stage in one 822s task, and the shuffle moved
    exploded gram rows (~100x the bytes of the compact texts)."""
    from fsql_spark.operators.text import q_doc_winnow_fingerprints

    df = q_doc_winnow_fingerprints(spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan[:2000]
    # the exchange is BELOW the generate (explode): repartition moves
    # compact docs, the exploded grams never shuffle
    assert plan.index("Exchange") > plan.index("Generate"), plan[:2000]


# ----------------------------------------------------- round-8 entries

def test_funnel_single_user_exchange_reused_by_both_windows(spark):
    """The join-free funnel's 100 TB claim: both window passes and the
    per-user aggregate ride ONE hashpartitioning(user_id) exchange — the
    naive per-stage formulation re-joins the event log once per stage."""
    from fsql_spark.relational import q_events_funnel

    plan = plan_of(q_events_funnel(spark, SF))
    assert plan.count("SortMergeJoin") == 0 and plan.count("BroadcastHashJoin") == 0
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_cohort_retention_two_exchanges_no_join(spark):
    """Cohort = window MIN per user (one exchange), then the small
    (cohort, offset) aggregate (one more) — the fact table is scanned once
    and never self-joined."""
    from fsql_spark.relational import q_events_cohort_retention

    plan = plan_of(q_events_cohort_retention(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan parquet") == 1


def test_basket_pairs_broadcasts_dim_and_colocates_self_join(spark):
    """part->brand is broadcast (never shuffled); the per-order pair join
    keys on l_orderkey so both sides reuse the same exchange layout."""
    from fsql_spark.relational import q_basket_brand_pairs

    plan = plan_of(q_basket_brand_pairs(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the self-join side must be partitioned by orderkey, not by pair keys
    assert "hashpartitioning(l_orderkey" in plan


def test_bm25_corpus_never_shuffles(spark):
    """BM25's corpus side is map-only: tf from per-row array filters, df as
    a tiny broadcast, corpus scalars inlined as literals. The ONLY exchange
    allowed is the |terms|-row df aggregate."""
    from fsql_spark.operators.retrieval import bm25_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(bm25_scores(docs, ["hash", "vector"]))
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("SortMergeJoin") == 0
    # exchanges: only the df-per-term aggregate (rows = |query terms|)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_cms_and_hll_single_aggregation_shuffle(spark):
    """Sketch builders are one map-side-combinable aggregation: registers /
    cells merge before the (group, register)-sized exchange — the
    mergeability that sketches exist for."""
    from fsql_spark.operators.sketches import count_min_cells, hll_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").count()
    plan = plan_of(count_min_cells(counts, "token", "count", depth=4, width=64))
    assert "Join" not in plan
    plan = plan_of(hll_distinct(toks, "token", p=10, group_cols=["lang"]))
    assert "Join" not in plan


def test_cms_heavy_hitters_topk_no_global_window(spark):
    """The verification top-20 is TakeOrderedAndProject (per-partition
    heaps merged at the driver), NOT a row_number window over an
    unpartitioned global sort — that was the last single-task global sort
    in the catalog (VERDICT r8 'What's wrong' #1)."""
    from fsql_spark.operators.sketches import q_cms_heavy_hitters

    plan = plan_of(q_cms_heavy_hitters(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_keyframes_zero_shuffle(spark):
    """Keyframe selection is embarrassingly parallel per media row: the
    whole decode+diff plan has no exchange except the synth's conditional
    input spread."""
    from fsql_spark.operators import multimodal as mm
    from fsql_spark.operators.multimodal import select_keyframes

    media = mm.pack_y4m(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    plan = plan_of(select_keyframes(media, min_diff=64))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_edit_pairs_blocking_beats_band_quadratic(spark):
    """On a heavy-band vocabulary (every token the same length, so the old
    length-pigeonhole blocking degenerates to all-pairs) the FastSS
    deletion-signature join generates FAR fewer candidates than the
    band-quadratic count — the 100M-token-vocabulary scale story."""
    import hashlib

    from fsql_spark.operators.vocab import _deletion_signatures_expr

    n = 400
    vocab = [
        "".join(
            "abcdefghijklmnopqrstuvwxyz"[b % 26]
            for b in hashlib.md5(str(i).encode()).digest()[:8]
        )
        for i in range(n)
    ]
    vocab = sorted(set(vocab))
    toks = spark.createDataFrame([(t,) for t in vocab], "token string")
    sig = _deletion_signatures_expr("token", 2)
    a = toks.selectExpr("token", f"explode({sig}) AS sig")
    b = a.select(F.col("token").alias("token_b"), "sig")
    candidates = (
        a.join(b, "sig")
        .where(F.col("token") < F.col("token_b"))
        .select("token", "token_b")
        .distinct()
        .count()
    )
    band_quadratic = len(vocab) * (len(vocab) - 1) // 2
    # random same-length tokens almost never share a 2-deletion variant
    assert candidates < band_quadratic / 100, (candidates, band_quadratic)


def test_prefix_filter_joins_never_broadcast_vocabulary(spark):
    """The prefix-filter candidate path joins two vocabulary/corpus-sized
    tables; the static estimator undersizes them (measured OOM at sf10) —
    the plan must carry ShuffledHashJoin for both token-keyed joins, not
    BroadcastHashJoin."""
    from fsql_spark.operators import prefix_filter_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        prefix_filter_pairs(docs, "doc_id", "text", 0.95, ngram=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ShuffledHashJoin") >= 2, plan[:1500]


def test_resample_anchor_join_not_broadcast_and_grid_parallel(spark):
    """per_bin is corpus-bin-sized (the row_number filter fools the
    estimator into broadcasting it: a driver-side single-threaded build at
    scale), and the keys-x-bins grid explode must not run on an
    AQE-coalesced single partition."""
    from fsql_spark.operators.asof import resample_interpolate
    from fsql_spark.relational import _t

    ev = _t(spark, "/root/testdata/sf0.001", "events")
    out = resample_interpolate(ev, "user_id", "ts", "event_id", "value", 3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:1500]
    # the explicit-width repartition survives in the plan (AQE leaves
    # user-specified widths alone; a column-only repartition is coalesced)
    assert "REPARTITION_BY_NUM" in plan or "Exchange hashpartitioning(user_id" in plan, plan[:1500]


def test_semdedup_pairwise_is_single_exchange_gemm_kernel(spark):
    """r12 rewrite claim: the SemDeDup in-cluster dominance scan is ONE
    hash exchange on centroid_id feeding the Arrow GEMM kernel
    (FlatMapGroupsInPandas) — not the old self-join's two-sided exchange,
    and no join at all before the final kept-flag join-back."""
    import __spark_entry__ as entry_mod

    plan = plan_of(entry_mod.queries()["q_semantic_dedup"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    # exchanges: one for the kernel's groupBy, none for a pairwise join
    assert plan.count("Exchange hashpartitioning") <= 2  # kernel + join-back
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_semdedup_incremental_prunes_kept_side_and_broadcasts(spark):
    """Incremental SemDeDup scale shape: the kept corpus is pruned to the
    batch's clusters via a BROADCAST left-semi join (the big side never
    shuffles to be pruned), the cross-corpus dominance scan is the Arrow
    GEMM kernel behind hash exchanges on centroid_id only, and the
    kept-flag join-back broadcasts the dropped-key set — no sort-merge
    join, no cartesian product anywhere."""
    import __spark_entry__ as entry_mod

    plan = plan_of(entry_mod.queries()["q_semantic_dedup_incremental"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    # every hash exchange is the kernel's centroid_id co-group or the
    # dropped-key distinct — never a full-table pairwise exchange
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan):
        assert m.group(1) in ("centroid_id", "dk"), m.group(0)
