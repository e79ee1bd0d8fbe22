"""Sources: parquet star schema + raw-text corpus reader.

The reference's only source is whitespace-delimited text files fed on argv
(reference ``omp.cpp:52-82``: one reader task per file appending to a shared
queue; ``hybrid.cpp:321-397``: demand-driven file→rank assignment). In Spark
both collapse into ``spark.read.text(paths)`` — the driver schedules file
splits to executors natively, so there is nothing to hand-build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType, TimestampType

#: All driver-generated tables (TESTDATA.md). One parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _footer_schema(path: str) -> StructType:
    """The schema Spark would infer for one parquet file, read from its
    footer on the driver: every column nullable, TIMESTAMP(NANOS) as a
    long (``nanosAsLong``), INT96 as TIMESTAMP, the rest as pyarrow maps
    them (µs/ms timestamps not adjusted to UTC as TIMESTAMP_NTZ). Raises
    on a type with no Spark mapping."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    timestamps = {}
    with pq.ParquetFile(path) as pf:
        for i in range(pf.metadata.num_columns):
            col = pf.schema.column(i)
            if col.physical_type == "INT96":
                timestamps[col.path] = TimestampType()
            elif json.loads(col.logical_type.to_json()).get("timeUnit") == "nanoseconds":
                timestamps[col.path] = LongType()
            else:
                continue
            if "." in col.path:
                raise TypeError(f"{path}: nested timestamp {col.path} has no mapping")
        arrow = pf.schema_arrow
    return StructType(
        [
            StructField(
                f.name,
                timestamps.get(f.name) or from_arrow_type(f.type, prefer_timestamp_ntz=True),
            )
            for f in arrow
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    The schema is read from the parquet footer on the driver
    (``_footer_schema``: the schema Spark would infer, INT96 and ns rules
    included), so building a query runs no schema-inference Spark job. A
    type with no mapping raises; there is no fallback to inference.

    ``events.ts`` may be TIMESTAMP(NANOS) in the parquet footer, which Spark
    rejects by default (PARQUET_TYPE_ILLEGAL). In that case we read it as a
    long (legacy nanosAsLong conf) and convert ns → µs with INTEGER division
    (a double round-trip would lose precision: ns-epoch ≈ 1.7e18 > 2^53),
    matching DuckDB's own ns→µs truncation. When the footer already carries
    µs/ms precision Spark reads it natively (as TIMESTAMP_NTZ) and we cast
    NTZ → TIMESTAMP: under the pinned-UTC session timezone the cast is a
    pure re-tag of the same micros, and LTZ is what event-time watermarks
    require. Either path yields the identical TIMESTAMP column.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(path)
    df = spark.read.schema(schema).parquet(path)
    if name != "events":
        return df
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_text_corpus(
    spark: SparkSession, paths: list[str] | str, preserve_bom: bool = False
) -> DataFrame:
    """Reference-style source: text file(s) → rows of text + source file.

    Multi-file input is an implicit UNION ALL (reference ``omp.cpp:181-188``
    spawns one reader per argv file into one shared queue). Spark globs and
    unions natively. Adds ``source`` = input file name so the per-file
    (sequential-binary) semantics stay expressible.

    ``preserve_bom=True`` reads whole files through the binaryFile source:
    Hadoop's line reader silently strips a UTF-8 BOM at split start, but the
    reference treats those 3 bytes as word bytes (the committed golden
    counts ``\\ufeffthe`` separately from ``the`` — ``omp_out.txt`` last
    line). Whole-file rows lose intra-file split parallelism, so this is
    the fidelity path, not the scale path — file-level parallelism remains
    (one task per file, exactly the reference's reader model).
    """
    from pyspark.sql import functions as F

    if preserve_bom:
        df = spark.read.format("binaryFile").load(paths)
        return df.select(
            F.decode("content", "UTF-8").alias("text"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("source"),
        )
    df = spark.read.text(paths)
    return df.select(
        F.col("value").alias("text"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source"),
    )
