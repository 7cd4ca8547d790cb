"""AQE's skew-join handling splits a hot key's sort-merge-join partition."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partition(spark):
    """Pin the AQE skew-join knob working: a 90%-hot key in a sort-merge
    join gets its partition split (skew=true in the final adaptive plan)
    once it exceeds the skew thresholds. The DF itself must be
    executed (collect) — an action like count() builds a different plan
    and leaves this one un-finalized."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
        j = left.join(right, "k")
        assert len(j.collect()) == 360_100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
