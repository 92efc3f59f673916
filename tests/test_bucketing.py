"""Bucketed co-located joins must plan without a shuffle (Exchange)
on either side — the SCALE.md claim, asserted on the physical plan."""

from pyspark.sql import functions as F

from gmall_flink_2021_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from gmall_flink_2021_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        lineitem = load_table(spark, SF_SMOKE, "lineitem")
        write_bucketed(orders, "b_orders", "o_orderkey")
        write_bucketed(lineitem, "b_lineitem", "l_orderkey")

        joined = bucketed_join(spark, "b_orders", "b_lineitem",
                               "o_orderkey", "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the result is right
        expect = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")

def test_aqe_skew_join_splits_the_hot_partition(spark):
    """The runtime half of the skew story (salted_join is the manual
    half): with AQE skew handling on, a 90%-one-key join must execute
    as SortMergeJoin(skew=true) with the hot partition split — the
    mechanism that absorbs skewed keys at 100 TB without rewriting the
    query. Thresholds are lowered to make local data 'big'; all confs
    are restored afterwards."""
    from pyspark.sql import functions as F

    keys = ["spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold"]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "true")
        spark.conf.set(keys[1], "64KB")
        spark.conf.set(keys[2], "16KB")
        spark.conf.set(keys[3], "2")
        spark.conf.set(keys[4], "-1")
        big = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
             .otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("p"))
        small = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = big.join(small, "k")
        # collect() (not count()) so THIS DataFrame's own query
        # execution runs and its adaptive plan finalizes
        assert len(j.collect()) == 200000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
