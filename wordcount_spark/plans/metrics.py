"""Metrics side-channel — the reference prints stage timings to stderr
(``omp.cpp:227-230``, ``hybrid.cpp:459-463``); the Spark-native equivalent
is the Observation API: named aggregates computed DURING the query (no
second pass, no extra action) plus wall-clock around the action.
"""

from __future__ import annotations

import sys
import time
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str = "metrics") -> tuple[DataFrame, Observation]:
    """Attach an Observation counting rows + bytes-ish volume in-flight."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far (a codegen
    cache hit does not count)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def jobs_run(spark) -> int:
    """Spark jobs this application has started so far, once the listener
    bus has delivered every pending event to the status store: the newest
    job id plus one (the store keeps only ``spark.ui.retainedJobs`` jobs,
    newest first, so its size stops counting)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return 0 if jobs.isEmpty() else jobs.head().jobId() + 1


def run_with_metrics(df: DataFrame, label: str = "query") -> dict[str, Any]:
    """Execute ``df`` (noop sink) and report {label, rows, wall_s,
    codegen_compiles, jobs} to stderr — the reference's timing
    side-channel, one query pass. The last two are deltas around the
    action: Janino compiles (a warm session compiles nothing, so a
    nonzero count on a repeat is a recompile storm) and jobs started."""
    spark = df.sparkSession
    observed_df, obs = observed(df)
    compiles0, jobs0 = codegen_compiles(spark), jobs_run(spark)
    t0 = time.monotonic()
    observed_df.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    metrics = {
        "label": label,
        "wall_s": round(wall, 4),
        **obs.get,
        "codegen_compiles": codegen_compiles(spark) - compiles0,
        "jobs": jobs_run(spark) - jobs0,
    }
    print(f"[metrics] {metrics}", file=sys.stderr)
    return metrics
