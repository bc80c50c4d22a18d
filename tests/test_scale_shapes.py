"""Scale-shape tests: skew salting and bucketed co-located joins —
the explicit levers beyond AQE for the 100 TB tier."""

import pytest
from pyspark.sql import functions as F

from orx_surgical_spark.operators.relational import dim_fact_join, salted_join
from orx_surgical_spark.plans import count_exchanges, plan_str
from orx_surgical_spark.sources import load_table
from orx_surgical_spark.sources.readers import write_bucketed


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "c_mktsegment")
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "k"),
        cust.withColumnRenamed("c_custkey", "k"),
        on="k",
        n_salts=8,
    ).select("o_orderkey", "c_mktsegment")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_spreads_hot_key(spark):
    """One hot key must land in multiple salt buckets."""
    hot = spark.range(10_000).select(F.lit(1).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    out = salted_join(hot, dim, on="k", n_salts=8)
    assert out.count() == 10_000
    # inspect the salt distribution before the drop: rebuild the salted side
    salted = hot.withColumn("__salt", (F.rand(42) * 8).cast("int"))
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets == 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketed_test")
    spark.catalog.setCurrentDatabase("bucketed_test")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
        n_buckets=8,
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.catalog.setCurrentDatabase("default")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, bucketed_tables):
    ot, lt = bucketed_tables
    o = spark.table(ot)
    l = spark.table(lt)
    joined = o.hint("merge").join(l, on="o_orderkey").select(
        "o_orderkey", "o_totalprice", "l_quantity"
    )
    plan = plan_str(joined, "simple")
    assert "Exchange" not in plan  # co-located: bucket layout replaces shuffle
    # and the result is correct vs the plain join
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    expected = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).count()
    assert joined.count() == expected


def test_broadcast_dim_join_single_exchange(spark, sf_dir):
    """dim_fact_join must not shuffle the fact side at all."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = dim_fact_join(orders, cust, on=orders["o_custkey"] == cust["c_custkey"])
    # only a broadcast exchange for the dim; no hash-partition exchange
    assert "hashpartitioning" not in plan_str(joined, "simple")


def test_stratified_split_exact_not_label_partitioned(spark):
    """The exact stratified split must NOT funnel the dataset through a
    row_number window partitioned by label (|labels| straggler tasks at
    scale): rows outside each label's boundary hash-bucket are
    classified by projection, so the input partitioning survives."""
    from orx_surgical_spark.operators.encoders import stratified_split_exact

    df = (
        spark.range(20_000)
        .select(
            F.col("id").alias("key"), (F.col("id") % 2).cast("int").alias("label")
        )
        .repartition(16)
    )
    out = stratified_split_exact(df, "label", "key", 0.8)
    sizes = [
        r["c"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    # Old shape: ~all 20k rows in 2 partitions. New shape: the clear
    # branch keeps its 16 input partitions; no partition may hold more
    # than ~2/16ths of the data.
    assert max(sizes) < 20_000 * 2 / 16 + 100, sizes
    # Exactness survives the rewrite.
    import math

    counts = {
        (r["label"], r["split"]): r["n"]
        for r in out.groupBy("label", "split").agg(F.count("*").alias("n")).collect()
    }
    for label in (0, 1):
        n = counts.get((label, "train"), 0) + counts.get((label, "test"), 0)
        assert counts[(label, "train")] == math.ceil(n * 0.8)


def test_stratified_split_exact_scans_input_three_times(spark, tmp_path):
    """The split's plan holds its input three times (histogram, boundary
    bucket, main rows), so a file input is scanned at most 3 times (the
    union-of-branches form scanned it 4 times here, 6 times in the CMS
    pipeline)."""
    from orx_surgical_spark.operators.encoders import stratified_split_exact

    path = str(tmp_path / "split_input")
    spark.range(2_000).select(
        F.col("id").alias("key"), (F.col("id") % 3).cast("int").alias("label")
    ).write.parquet(path)
    out = stratified_split_exact(spark.read.parquet(path), "label", "key", 0.8)
    assert len(out.collect()) == 2_000
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert 1 <= final.count("Scan parquet") <= 3, final


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime row-level filtering: with a selective filter on the
    orders side of a shuffle join, Catalyst injects a bloom filter
    built from the filtered keys into the lineitem scan — fact rows
    that cannot join are dropped BEFORE the shuffle. At 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    the joinable slice; here we pin that the injection actually fires
    under the documented confs."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # toy-scale thresholds so the tiny test tables qualify
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # force a shuffle join: a broadcast join already prunes at the
        # hash table and gets no bloom filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_totalprice") > 100000
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_table_stats_reach_the_planner(spark, sf_dir, tmp_path):
    """Catalog statistics (ANALYZE TABLE) reach the optimizer: after
    computing stats, the plan's cost model sees the real row count —
    the machinery CBO join reordering and broadcast decisions run on
    at warehouse scale. (The assertion pins stats propagation, not a
    specific reorder: reorders need multi-join queries whose best order
    is scale-dependent.)"""
    name = "cbo_probe_orders"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.saveAsTable(name)
    try:
        n = orders.count()
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        stats = spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        stat_row = next(
            r for r in stats if r["col_name"].strip() == "Statistics"
        )
        assert f"{n} rows" in stat_row["data_type"], stat_row
        # and, with the cost-based optimizer on, the planner-visible
        # relation carries the exact rowCount (CBO off -> size-only
        # estimates; the rowCount channel is what join reordering uses)
        prev = spark.conf.get("spark.sql.cbo.enabled", "false")
        try:
            spark.conf.set("spark.sql.cbo.enabled", "true")
            rel = spark.table(name)._jdf.queryExecution().optimizedPlan()
            row_count = rel.stats().rowCount()
            assert row_count.isDefined() and int(str(row_count.get())) == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
