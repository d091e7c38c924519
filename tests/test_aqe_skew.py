"""AQE skew-join splitting: the runtime half of the skew story (the other
half needs no test: the kernel is a narrow map over the scan splits, so a hot
host never lands in one task — see plans/lineage.py).
Thresholds are lowered so the planted hot key triggers the optimization at
test scale — on a real cluster the defaults (256 MB) fire the same path."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
        # a downstream hash requirement would veto the split; allow the
        # extra shuffle like a tuned cluster job would
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 95% of the left side lands on key 0 (hot host analog)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        left.write.mode("overwrite").parquet(str(tmp_path / "l"))
        right.write.mode("overwrite").parquet(str(tmp_path / "r"))
        j = (
            spark.read.parquet(str(tmp_path / "l"))
            .join(spark.read.parquet(str(tmp_path / "r")), "k")
            # consume payload so pruning keeps it in the shuffle: skew
            # detection sees COMPRESSED map-output sizes, and a
            # keys-only shuffle of one repeated long compresses to ~nothing
            .select(F.sum(F.length("payload")).alias("n"))
        )
        j.collect()  # materialize so AdaptiveSparkPlan is final
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
