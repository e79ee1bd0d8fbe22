"""Skew handling: AQE must split a pathologically skewed join partition at
runtime (the 100 TB hot-key scenario)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    # 200k rows of key=0 + 2k spread rows vs a 2k-row right side: partition 0
    # is ~100x the median — AQE should mark the join input as skewed and
    # split it. Thresholds lowered so the tiny local dataset qualifies.
    conf = spark.conf
    old = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("p"),
        )
        right = spark.range(2_000).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k")
        n = len(j.collect())  # execute THIS plan (count() builds a different one)
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                conf.set(k, v)
