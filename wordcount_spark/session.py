"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM with N executor threads; the configs below are
chosen so the same logical plans scale to a real cluster:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the plan self-tunes when data is 1000x bigger.
- shuffle.partitions ~= cores locally; on a cluster this would be
  2-3x total executor cores (AQE coalesces the excess).
- Arrow enabled: every pandas interchange (Pandas UDFs, toPandas) is
  columnar-batched instead of row-pickled.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location-independent.
- codegen cache sized to the registry's working set: a cold sweep of the
  registry at sf0.001 (265 queries when measured) compiled 2,582 distinct
  classes, and
  the headline three alone ~120, past Spark's default LRU of 100, so
  every warm pass recompiled (and re-JITted) almost all of them. Class
  names leave out the codegen stage number, so one pipeline is one cache
  entry whatever number AQE gave its stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wordcount_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` overrides (applied last) are for TOOLS and test
    harnesses only — e.g. tests/conftest.py turns codegen fallback off so
    compile failures are hard errors; query code never passes it."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # static conf; cold sweep of the whole registry at sf0.001 compiled
        # 2,582 distinct classes (mean bytecode 2.8 KB); Guava's LRU only
        # holds what was compiled, so this is a ceiling, not a reservation
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # AQE numbers whole-stage codegen stages in the order it creates query
        # stages, which varies run to run; with the number in the class name
        # the same pipeline misses the cache under each numbering
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
