"""Storage formats & connectors (SURVEY.md §2.7: the reference reads plain
text only — this is the lakehouse-grade source/sink surface).

Parquet is the default everywhere (columnar, predicate pushdown, stats).
CSV/JSON/ORC/text are provided for interchange. JDBC reads go through
a driver-class probe that raises a clear error when the driver jar is
absent, instead of failing deep inside the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.operators.caching import bounded_cache


def write_table(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Format-dispatched sink. Example: partitioned lake layout —
    ``write_table(docs, p, partition_by=['lang'])`` gives per-language
    directories that partition-prune on read (asserted in tests)."""
    partition_by = options.pop("partition_by", None)
    w = df.write.mode("overwrite").options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    r = spark.read.options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.format(fmt).load(path)


#: JDBC URL scheme → driver class, for drivers that might be on the
#: classpath. Derby ships WITH Spark (the Hive-metastore dependency), so
#: embedded-Derby JDBC works out of the box in every Spark install.
_JDBC_DRIVERS = {
    "derby": "org.apache.derby.jdbc.EmbeddedDriver",
    "postgresql": "org.postgresql.Driver",
    "mysql": "com.mysql.cj.jdbc.Driver",
    "sqlite": "org.sqlite.JDBC",
}


def _jdbc_driver_for(spark: SparkSession, url: str, options: dict) -> str:
    """Resolve and PROBE the driver class for a jdbc: URL; raise the
    capability error if the jar isn't on the classpath."""
    if not url.startswith("jdbc:"):
        raise ValueError("url must be a jdbc: URL")
    scheme = url.split(":")[1]
    driver = options.get("driver") or _JDBC_DRIVERS.get(scheme)
    try:
        if driver is None:
            raise ValueError(f"unknown jdbc scheme {scheme!r}: pass driver=...")
        spark._jvm.java.lang.Class.forName(driver)  # type: ignore[union-attr]
    except Exception as exc:
        raise NotImplementedError(
            f"no JDBC driver for {scheme!r} on this classpath ({exc}); on a "
            "cluster add the driver jar (--jars / spark.jars.packages), then "
            "spark.read.format('jdbc').option('url', url).option('dbtable', "
            "table).option('partitionColumn', ...).option('numPartitions', "
            "...) for parallel range reads"
        ) from exc
    return driver


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source. Real (not a stub) whenever the driver jar is on the
    classpath — embedded Derby always is, since Spark bundles it; other
    databases need their jar shipped to the cluster. Filters on numeric/
    string columns push down into the remote WHERE clause, and
    ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    split the read into parallel range queries.

    Scale: a single un-partitioned JDBC read is ONE connection pulling the
    whole table through the driver node — always pass the partition-range
    options for anything beyond dimension size; better, CDC the table into
    parquet/Delta and read that (JDBC is the bootstrap path, not the
    steady-state 100 TB path)."""
    driver = _jdbc_driver_for(spark, url, options)
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .options(**{k: v for k, v in options.items() if k != "driver"})
        .load()
    )


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "overwrite", **options
) -> None:
    """JDBC sink (same driver probe as :func:`read_jdbc`). Each partition
    writes over its own connection — cap ``df`` partitions (coalesce) to
    what the database accepts, and batch inserts ride the driver's
    ``batchsize`` option (default 1000)."""
    driver = _jdbc_driver_for(df.sparkSession, url, options)
    (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .options(**{k: v for k, v in options.items() if k != "driver"})
        .save()
    )


def read_json_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Dirty-ingest pattern: parse JSONL permissively, split clean rows from
    a quarantine frame holding the raw text of every malformed record.

    At corpus scale a single bad line must neither kill the job (ANSI/
    FAILFAST) nor silently vanish (DROPMALFORMED): the quarantine frame is
    written alongside the table for replay after the producer is fixed.
    Returns (good, quarantined_raw).
    """
    raw = (
        spark.read.schema(f"{schema}, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # Spark requires caching/materializing before filtering on the corrupt
    # column alone (the parser prunes otherwise); a checkpoint-free way is
    # referencing data columns in the same select.
    raw = bounded_cache(raw)
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, bad
