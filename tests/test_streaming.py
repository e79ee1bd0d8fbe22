"""Streaming semantics tests: each streaming pipeline must reproduce its
batch twin's result on a finite replay (the deterministic-replay strategy —
SURVEY.md §7 risk 4: watermarks aren't DuckDB-checkable, equivalence to the
oracle-checked batch query is the next-strongest evidence).

A registered streaming twin that reuses its batch twin's oracle is already
checked on a one-batch replay by test_registry_contract; what it adds is
the incremental state, so its test here replays the input as several
micro-batches (``*_slicing``) and its docstring names that test."""

from __future__ import annotations

import os
import shutil
import time
from glob import glob

import pytest

from wordcount_spark.operators.queries_windows import window_tumbling, window_session
from wordcount_spark.operators.wordcount import word_count
from wordcount_spark.sources.readers import load_table
from wordcount_spark.streaming.streams import (
    run_to_completion,
    streaming_session_windows,
    streaming_user_state,
    streaming_windowed_counts,
    streaming_wordcount,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _sliced(df, path, n=4):
    """Write ``df`` as ``n`` round-robin part files: each holds an
    arbitrary, time-mixed slice, and the file source (one file per
    trigger) replays them as ``n`` micro-batches."""
    df.repartition(n).write.parquet(str(path))
    assert len(glob(f"{path}/part-*.parquet")) == n
    return str(path)


def _time_ordered_slices(spark, ev, tmp_path, n=4):
    """Write events as ``n`` contiguous (ts, event_id)-sorted slices, one
    file each, with STRICTLY INCREASING mtimes: the file source orders
    pending files by modification time, so same-instant part files (one
    repartitionByRange write) would replay in arbitrary order — not a
    time-ordered feed at all. Returns the directory; the files match
    ``slice_*.parquet``."""
    src = tmp_path / "sliced_events"
    src.mkdir()
    pdf = ev.orderBy("ts", "event_id").toPandas()
    rows = len(pdf)
    t0 = time.time() - 100
    for i in range(n):
        chunk = pdf.iloc[i * rows // n : (i + 1) * rows // n]
        stage = str(tmp_path / f"stage_{i}")
        spark.createDataFrame(chunk).coalesce(1).write.parquet(stage)
        (part,) = glob(f"{stage}/part-*.parquet")
        dst = f"{src}/slice_{i:02d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
    return str(src)


def test_wordcount_invariant_to_batch_slicing(spark, sf_dir, tmp_path):
    """Streaming twin of `wordcount`: the complete-mode word → count state
    must equal the batch count when documents arrive as 4 arbitrary
    micro-batches, not one — per-batch partial counts merge into the
    state by addition, so slicing and arrival order cannot matter. (The
    one-batch replay is checked against the batch oracle by
    test_registry_contract.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _sliced(docs, tmp_path / "sliced_docs")

    got = run_to_completion(
        streaming_wordcount(spark, src, path_glob="part-*.parquet"),
        "t_wc_sliced",
        "complete",
    )
    want = word_count(spark, sf_dir).withColumnRenamed("cnt", "count")
    assert _rows(got, ["word", "count"]) == _rows(want, ["word", "count"])


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = streaming_windowed_counts(spark, sf_dir)
    got = run_to_completion(stream, "t_win", "complete")
    want = window_tumbling(spark, sf_dir).select("ws", "we", "event_type", "n")
    assert _rows(got, ["ws", "we", "event_type", "n"]) == _rows(
        want, ["ws", "we", "event_type", "n"]
    )


def test_session_windows_invariant_to_time_ordered_slicing(
    spark, sf_dir, tmp_path
):
    """Streaming twin of `window_session`: the complete-mode session set
    must equal the batch sessionization when events arrive as 4
    time-ordered micro-batches — a session open at a batch boundary is
    extended or merged by the next batch's events, and no event is late:
    each batch starts at or after the previous batch's max event time, so
    above the 1-hour watermark. (The one-batch replay is checked against
    the batch oracle by test_registry_contract.)"""
    ev = load_table(spark, sf_dir, "events")
    src = _time_ordered_slices(spark, ev, tmp_path)

    got = run_to_completion(
        streaming_session_windows(spark, src, path_glob="slice_*.parquet"),
        "t_sess_sliced",
        "complete",
    )
    want = window_session(spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_user_state(spark, sf_dir):
    stream = streaming_user_state(spark, sf_dir)
    got = run_to_completion(stream, "t_state", "update")
    # update-mode memory sink keeps every emitted row; the LAST row per user
    # is the final state
    import collections

    final = {}
    for r in got.collect():
        final[r["user_id"]] = (r["n_events"], r["last_seen_us"])
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    # last_seen_us is µs since epoch of the (timezone-naive) event time —
    # cast through LTZ under the UTC session timezone to extract micros
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.expr("unix_micros(cast(max(ts) as timestamp))").alias("last_us"),
        )
        .collect()
    )
    for r in want:
        assert final[r["user_id"]] == (r["n"], r["last_us"]), r["user_id"]


def test_streaming_dedup_within_watermark(spark, sf_dir):
    from wordcount_spark.streaming.streams import streaming_dedup_events

    got = run_to_completion(streaming_dedup_events(spark, sf_dir), "t_dedup", "append")
    # one surviving row per (user_id, event_type) present in the input
    # (all test events fit inside one watermark window)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = ev.select("user_id", "event_type").distinct().count()
    assert got.select("user_id", "event_type").distinct().count() == want
    assert got.count() == want


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from wordcount_spark.streaming.streams import streaming_purchase_attribution

    got = run_to_completion(
        streaming_purchase_attribution(spark, sf_dir), "t_ssj", "append"
    )
    # batch twin: same interval join on the static table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND click_ts >= purchase_ts - INTERVAL 1 HOUR "
            "AND click_ts < purchase_ts"
        ),
    )
    cols = ["purchase_id", "c_user", "click_ts"]
    a = sorted(tuple(str(r[c]) for c in cols) for r in got.collect())
    b = sorted(tuple(str(r[c]) for c in cols) for r in want.collect())
    assert a == b and len(a) > 0


def test_foreach_batch_exactly_once_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the escape hatch for sinks without native streaming
    support — per-epoch idempotent parquet writes (epoch id = the
    exactly-once replay key)."""
    from wordcount_spark.streaming.streams import streaming_wordcount

    out = str(tmp_path / "batches")
    seen = []

    def sink(df, epoch_id):
        seen.append(epoch_id)
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    q = (
        streaming_wordcount(spark, sf_dir)
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen, "no epochs fired"
    last = spark.read.parquet(f"{out}/epoch={max(seen)}")
    from wordcount_spark.operators.wordcount import word_count

    want = word_count(spark, sf_dir).count()
    assert last.count() == want


def test_streaming_funnel_transform_with_state(spark, sf_dir):
    """transformWithState funnel ≡ batch events_funnel (depth per user)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's state-server protocol needs protobuf "
        "(absent in this container; operator is import-gated)",
    )
    from wordcount_spark.operators.queries_windows import events_funnel
    from wordcount_spark.streaming.streams import streaming_funnel_state

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = streaming_funnel_state(spark, sf_dir)
        got = run_to_completion(stream, "t_funnel_tws", "update")
        # update mode re-emits a user on every batch that touches it; the
        # single-file source yields one batch, but dedup defensively
        stream_depth = {
            r.user_id: r.funnel_depth
            for r in got.orderBy("user_id").collect()
        }
        batch_depth = {
            r.user_id: r.funnel_depth
            for r in events_funnel(spark, sf_dir).collect()
        }
        assert stream_depth == batch_depth
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_streaming_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment join replayed == the same join in batch."""
    from wordcount_spark.streaming.streams import streaming_enrich_static_join
    from pyspark.sql import functions as F

    got = run_to_completion(
        streaming_enrich_static_join(spark, sf_dir), "t_ssj_static", "complete"
    )
    ev = load_table(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    want = (
        ev.join(profile, "user_id")
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("first_day")).alias(
                "user_age_days"
            )
        )
        .agg(F.count("*").alias("n_events"))
    )
    cols = ["user_age_days", "n_events"]
    assert _rows(got, cols) == _rows(want, cols) and got.count() > 0


def test_streaming_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed restart: a stream stopped after batch 1 and restarted
    over a source directory that gained a second file must process ONLY
    the new file (offset tracking), and the final counts must equal batch
    over both files — exactly-once across restarts."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_name = "t_ckpt"
    shutil.copy(f"{sf_dir}/documents.parquet", src / "part1.parquet")

    batch_schema = spark.read.parquet(str(src)).schema

    def start():
        stream = (
            spark.readStream.schema(batch_schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
        )
        return (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(out_name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = {r["lang"]: r["n"] for r in spark.table(out_name).collect()}

    # second file arrives while the stream is DOWN
    shutil.copy(f"{sf_dir}/documents.parquet", src / "part2.parquet")
    q = start()
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    final = {r["lang"]: r["n"] for r in spark.table(out_name).collect()}

    # resumed run read only the NEW file's rows
    resumed_rows = sum(p["numInputRows"] for p in progress)
    batch1 = sum(first.values())
    assert resumed_rows == batch1, (resumed_rows, batch1)
    # and state carried over: final counts == batch over both files
    want = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(str(src))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == want
    assert all(final[k] == 2 * v for k, v in first.items())


def test_incremental_merge_invariant_to_batch_slicing(spark, sf_dir, tmp_path):
    """The foreachBatch CDC merge must converge to the same state whether
    the changelog arrives as ONE batch or as 4 out-of-order micro-batches:
    latest-wins is by (ts, event_id) version, never arrival order."""
    from wordcount_spark.streaming.streams import streaming_incremental_merge

    # each slice is time-mixed, so per-batch maxima disagree with the
    # global ones
    src = _sliced(load_table(spark, sf_dir, "events"), tmp_path / "sliced")

    sliced = streaming_incremental_merge(spark, src, path_glob="part-*.parquet")
    whole = streaming_incremental_merge(spark, sf_dir)
    assert sorted(map(tuple, sliced.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_agg_maintenance_invariant_to_batch_slicing(spark, sf_dir, tmp_path):
    """The streamed IVM aggregate must equal the declarative recompute
    from final state — whether the changelog arrives whole or as 4
    out-of-order micro-batches."""
    from wordcount_spark.operators.queries_cdc import agg_of_state, latest_state
    from wordcount_spark.streaming.streams import streaming_agg_maintenance

    ev = load_table(spark, sf_dir, "events")
    src = _sliced(ev, tmp_path / "sliced")

    sliced = streaming_agg_maintenance(spark, src, path_glob="part-*.parquet")
    whole = streaming_agg_maintenance(spark, sf_dir)
    expected = sorted(
        (r.event_type, r.n_users, r.total_value)
        for r in agg_of_state(
            latest_state(
                ev.select("user_id", "event_id", "ts", "event_type", "value")
            )
        ).collect()
    )
    got_sliced = sorted(
        (r.event_type, r.n_users, r.total_value) for r in sliced.collect()
    )
    got_whole = sorted(
        (r.event_type, r.n_users, r.total_value) for r in whole.collect()
    )
    assert got_sliced == expected
    assert got_whole == expected


def test_streaming_doc_quality_dedup_equals_batch(spark, sf_dir):
    """Streamed quality-gate + (lang, content-hash) duplicate accounting
    must equal the same pipeline run as a batch over the full corpus."""
    from pyspark.sql import functions as F

    from wordcount_spark.functions.text import tokenize
    from wordcount_spark.operators.queries_textstats import STOPWORDS
    from wordcount_spark.streaming.streams import (
        run_to_completion,
        streaming_doc_quality_dedup,
    )

    got = {
        (r["lang"], r["content_hash"]): r["n_copies"]
        for r in run_to_completion(
            streaming_doc_quality_dedup(spark, sf_dir), "t_doc_curation", "complete"
        ).collect()
    }

    docs = spark.read.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
    toks = tokenize("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = docs.select(
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
        ).alias("n_punct"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
    )
    want = {
        (r["lang"], r["content_hash"]): r["n_copies"]
        for r in m.where(
            (F.col("n_tokens") >= 20)
            & (F.col("n_punct").cast("double") / F.col("n_chars") < 0.1)
            & (F.col("n_stop").cast("double") / F.col("n_tokens") > 0.05)
        )
        .groupBy("lang", F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_copies"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_lsh_incremental_invariant_to_batch_slicing(spark, sf_dir, tmp_path):
    """The streaming LSH index maintenance must accumulate the SAME pair
    set whether documents arrive as one batch or as 4 arbitrary slices —
    each pair surfaces exactly when its later member arrives — and that
    set must equal the registered batch `dedup_minhash_lsh` pairs."""
    from wordcount_spark.operators.queries_dedup import dedup_minhash_lsh
    from wordcount_spark.streaming.streams import streaming_lsh_index_maintenance

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _sliced(docs, tmp_path / "sliced")

    sliced = streaming_lsh_index_maintenance(spark, src, path_glob="part-*.parquet")
    got = sorted(map(tuple, sliced.collect()))

    want = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    assert got == want


def test_line_dedup_invariant_to_batch_slicing(spark, sf_dir, tmp_path):
    """The streaming line-dedup's min-merged ownership index must yield
    the SAME per-doc audit whether documents arrive as one batch or as 4
    arbitrary slices, and that audit must equal the batch
    text_line_dedup_c4 result."""
    from wordcount_spark.operators.queries_dedup import text_line_dedup_c4
    from wordcount_spark.streaming.streams import streaming_line_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = _sliced(docs, tmp_path / "sliced_lines")

    sliced = streaming_line_dedup(spark, src, path_glob="part-*.parquet")
    got = sorted(map(tuple, sliced.collect()))

    want = sorted(map(tuple, text_line_dedup_c4(spark, sf_dir).collect()))
    assert got == want


def test_attribution_invariant_to_time_ordered_slicing(spark, sf_dir, tmp_path):
    """The stream-stream interval join must emit the SAME pair set whether
    events arrive as one batch or as 4 time-ordered slices — the argument
    backing its r4 oracle upgrade: a purchase in batch N+1 has ts ≥ batch
    N's max event time, so every click it can join is still at or above
    the watermark when it arrives. (Arbitrary/unordered slicing is NOT
    covered by that argument: a real feed is time-ordered.)"""
    from wordcount_spark.streaming.streams import streaming_purchase_attribution

    src = _time_ordered_slices(spark, load_table(spark, sf_dir, "events"), tmp_path)

    sliced = run_to_completion(
        streaming_purchase_attribution(spark, src, path_glob="slice_*.parquet"),
        "t_ssj_sliced",
        "append",
    )
    got = sorted(map(tuple, sliced.collect()))

    single = run_to_completion(
        streaming_purchase_attribution(spark, sf_dir), "t_ssj_single", "append"
    )
    want = sorted(map(tuple, single.collect()))
    assert got == want
    assert len(got) > 0
