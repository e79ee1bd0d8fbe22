"""Storage format round-trips + partitioned-layout pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wordcount_spark.plans.explain import formatted_plan
from wordcount_spark.sources.formats import read_jdbc, read_table, write_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.mark.parametrize("fmt,opts", [
    ("parquet", {}),
    ("orc", {}),
    ("json", {}),
    ("csv", {"header": "true"}),
])
def test_roundtrip(spark, docs, tmp_path, fmt, opts):
    path = str(tmp_path / fmt)
    write_table(docs, path, fmt, **opts)
    back = read_table(spark, path, fmt, schema=docs.schema, **opts)
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_partitioned_layout_prunes(spark, docs, tmp_path):
    path = str(tmp_path / "by_lang")
    write_table(docs, path, "parquet", partition_by=["lang"])
    back = read_table(spark, path, "parquet").filter(F.col("lang") == "en")
    plan = formatted_plan(back)
    # partition filter on the directory column — whole non-en dirs skipped
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert back.count() == docs.filter("lang = 'en'").count()


def test_text_sink_roundtrip(spark, docs, tmp_path):
    path = str(tmp_path / "txt")
    docs.select("text").write.mode("overwrite").text(path)
    n = spark.read.text(path).count()
    assert n == docs.count()


def test_connector_stubs_fail_clearly(spark):
    with pytest.raises(NotImplementedError, match="no JDBC driver"):
        read_jdbc(spark, "jdbc:postgresql://x/y", "t")


def test_json_quarantine_splits_bad_records(spark, tmp_path):
    from wordcount_spark.sources.formats import read_json_quarantine

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "{broken json\n"
        '{"id": 2, "v": "fine"}\n'
        '{"id": "not-an-int", "v": "type-clash"}\n'
        '{"id": 3, "v": "good"}\n'
    )
    good, bad = read_json_quarantine(spark, str(p), "id bigint, v string")
    assert sorted(r.id for r in good.collect()) == [1, 2, 3]
    quarantined = [r.raw for r in bad.collect()]
    assert len(quarantined) == 2
    assert any("broken" in q for q in quarantined)
    assert any("not-an-int" in q for q in quarantined)


def test_load_table_events_ts_schema_adaptive(spark, tmp_path):
    """The driver has regenerated events.parquet with different timestamp
    physical types across rounds (ns → µs). load_table must yield the
    identical TIMESTAMP (LTZ) column for: ns footer (read as long via
    nanosAsLong), µs/NTZ footer (cast), and a plain long column."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wordcount_spark.sources.readers import load_table

    base = [1704067200_000_000, 1704070800_123_456]  # µs since epoch

    def write(dirname, arr, typ):
        d = tmp_path / dirname
        d.mkdir()
        t = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(arr, typ),
                "user_id": pa.array([10, 20], pa.int64()),
                "event_type": pa.array(["a", "b"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(t, d / "events.parquet")
        return str(d)

    variants = {
        "ns": write("ns", [v * 1000 for v in base], pa.timestamp("ns")),
        "us": write("us", base, pa.timestamp("us")),
    }
    got = {}
    for name, d in variants.items():
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp", name
        got[name] = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got["ns"] == got["us"], got


def test_jdbc_derby_roundtrip(spark, tmp_path):
    """Real JDBC round-trip against embedded Derby (Spark bundles the
    Derby jars for its Hive metastore, so this runs in EVERY Spark
    install): write nation over JDBC, read it back whole, then read with
    a filter and prove the predicate reached the remote scan."""
    from wordcount_spark.sources.formats import read_jdbc, write_jdbc
    from wordcount_spark.sources.readers import load_table

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    write_jdbc(nation.coalesce(2), url, "nation")

    back = read_jdbc(spark, url, "nation")
    assert back.count() == nation.count()
    assert sorted(c.lower() for c in back.columns) == sorted(
        c.lower() for c in nation.columns
    )

    filtered = read_jdbc(spark, url, "nation").filter("n_regionkey = 1")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_regionkey" in plan.split("PushedFilters")[1][:200], (
        "JDBC filter did not push down:\n" + plan
    )
    got = {r["n_nationkey"] for r in filtered.collect()}
    want = {
        r["n_nationkey"] for r in nation.filter("n_regionkey = 1").collect()
    }
    assert got == want


def test_jdbc_derby_partitioned_read(spark, tmp_path):
    """Range-partitioned parallel JDBC read: numPartitions connections,
    same rows."""
    from wordcount_spark.sources.formats import read_jdbc, write_jdbc
    from wordcount_spark.sources.readers import load_table

    url = f"jdbc:derby:{tmp_path}/db2;create=true"
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    write_jdbc(nation.coalesce(1), url, "nation")
    part = read_jdbc(
        spark,
        url,
        "nation",
        partitionColumn="n_nationkey",
        lowerBound="0",
        upperBound="25",
        numPartitions="4",
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == nation.count()


def test_orc_roundtrip_pushes_predicate(spark, tmp_path):
    """ORC scans must receive the filter (stripe/row-group stats pruning)
    — the property orc_roundtrip_lineitem's scale claim rests on."""
    from wordcount_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    path = str(tmp_path / "orc_li")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") < 10)
    plan = formatted_plan(back)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "l_quantity" in pushed, pushed
    assert back.count() == li.filter("l_quantity < 10").count()
