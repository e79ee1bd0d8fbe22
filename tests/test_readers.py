"""``load_table`` reads each table's schema from its parquet footer on the
driver instead of letting Spark infer it with a job. These tests pin that
the footer schema is exactly what inference would give (names, types,
nullability) on the test data and on synthetic footers covering every
timestamp encoding, and that loading all tables runs no Spark job."""

from __future__ import annotations

import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructField, StructType, TimestampType

from tests.conftest import SF_DIR
from wordcount_spark.plans.metrics import jobs_run
from wordcount_spark.sources.readers import TABLES, load_table

SF_DIRS = [os.path.join(os.path.dirname(SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")]


def _inferred(spark, sf_dir: str, name: str) -> StructType:
    """Spark's own inference, with load_table's events ``ts`` normalisation
    (either footer encoding ends as a TIMESTAMP column)."""
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    if name != "events":
        return schema
    return StructType(
        [StructField("ts", TimestampType()) if f.name == "ts" else f for f in schema]
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_footer_schema_matches_inference(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is absent on this host")
    for name in TABLES:
        got = load_table(spark, sf_dir, name).schema
        assert got == _inferred(spark, sf_dir, name), name


def test_load_table_runs_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "nation")  # first touch: nothing left to warm
    before = jobs_run(spark)
    for name in TABLES:
        load_table(spark, sf_dir, name)
    assert jobs_run(spark) - before == 0


_TS_US = [1704067200_000_000, 1704070800_123_456, None]

_FOOTERS = {
    "ns": (pa.timestamp("ns"), [None if v is None else v * 1000 for v in _TS_US], {}),
    "us": (pa.timestamp("us"), _TS_US, {}),
    "us_utc": (pa.timestamp("us", tz="UTC"), _TS_US, {}),
    "int96": (pa.timestamp("us"), _TS_US, {"use_deprecated_int96_timestamps": True}),
    "decimal": (pa.decimal128(12, 2), [Decimal("1.25"), Decimal("-9999999999.99"), None], {}),
}


@pytest.mark.parametrize("kind", sorted(_FOOTERS))
def test_synthetic_footer_matches_inference(spark, tmp_path, kind):
    typ, values, write_opts = _FOOTERS[kind]
    table = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "x": pa.array(values, typ),
            "tag": pa.array(["a", None, "c"]),
            "small": pa.array([1, 2, None], pa.int8()),
            "vec": pa.array([[1.0], [], None], pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, tmp_path / "t.parquet", **write_opts)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # as for events
    want = spark.read.parquet(str(tmp_path / "t.parquet"))
    got = load_table(spark, str(tmp_path), "t")
    assert got.schema == want.schema
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


@pytest.mark.parametrize(
    "typ",
    [pa.uint32(), pa.struct([("at", pa.timestamp("ns"))])],
    ids=["unsigned", "nested_ns_timestamp"],
)
def test_unmapped_footer_type_raises(spark, tmp_path, typ):
    pq.write_table(pa.table({"x": pa.array([None], typ)}), tmp_path / "t.parquet")
    with pytest.raises(TypeError):
        load_table(spark, str(tmp_path), "t")
