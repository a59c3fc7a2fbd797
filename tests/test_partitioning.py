"""Partitioning-strategy tests: a runtime bloom filter prunes the probe
side of a selective join, and a bucketed co-located join runs without a
shuffle (SURVEY.md 'Partitioning & shuffle')."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources.tables import (
    load_table,
)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime filtering: with a selective predicate on the build side,
    Spark injects a bloom filter into the probe-side scan so most probe
    rows die before the join shuffle — the 100 TB lever for selective
    fact⋈fact joins (AQE's complement to static partition pruning).
    The assert is on the optimized plan (bloom injection), plus result
    equality with the unfiltered run."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # below the size threshold Spark skips injection on tiny scans
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("l_orderkey", "l_quantity", "o_orderpriority")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan[:2000]
        got = joined.count()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = (
        load_table(spark, "lineitem", sf_dir)
        .join(
            load_table(spark, "orders", sf_dir).filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert got == want


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Pre-bucketing both sides on the join key co-locates matching
    rows: the sort-merge join reads bucket files directly — no Exchange
    (shuffle) in the physical plan. This is the 100 TB recipe for
    repeated joins on the same key. (Uses the session warehouse dir —
    static conf — tables are dropped on exit.)"""
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    # the in-memory catalog forgets tables across sessions but their
    # directories persist; orphan locations block saveAsTable
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("orders_b", "lineitem_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("lineitem_b")
    # tiny test tables would auto-broadcast; force the SMJ path the
    # bucketing targets at scale
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = spark.table("lineitem_b").join(
        spark.table("orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket co-location removed the shuffle
    try:
        n = joined.count()
        want = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
