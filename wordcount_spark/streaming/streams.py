"""Structured Streaming surface: the batch pipelines re-run as streams.

The reference has no streaming (SURVEY.md §2.7); this is the extension
surface. Design rule: every streaming query shares its TRANSFORMATION code
with the batch version (same functions over an unbounded DataFrame), so
batch oracles vouch for streaming logic; streaming tests then only need to
cover streaming-specific semantics (watermarks, incremental state, late
data).

Local testing uses the file source over the same parquet + a memory sink,
driven to completion with processAllAvailable() — deterministic replay, no
timers. On a cluster the sources become Kafka/files-on-arrival; nothing in
the transformation changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.functions.text import tokenize
from wordcount_spark.operators.wordcount import words_from_text


def _stream_table(
    spark: SparkSession, sf_dir: str, name: str, path_glob: str | None = None
) -> DataFrame:
    """readStream over the driver-generated parquet (schema from a batch
    peek — streaming sources need an explicit schema). ``path_glob``
    overrides the one-table filter for multi-file replay dirs."""
    glob = path_glob or f"{name}.parquet"
    batch = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
    # the file source requires a DIRECTORY; select the table's file(s)
    # out of the shared dir with a glob filter
    return (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", glob)
        .load(sf_dir)
    )


def _normalize_ts(raw: DataFrame) -> DataFrame:
    """ns→µs ts conversion (same rules as the batch loader,
    readers.load_table — the single place schema drift must be handled)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # watermarks require TIMESTAMP (LTZ); under the pinned-UTC session
        # timezone the cast re-tags the same micros
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _events_stream(
    spark: SparkSession, sf_dir: str, path_glob: str | None = None
) -> DataFrame:
    """events stream with the ns→µs ts conversion (same as the batch loader).
    ``path_glob`` overrides the one-file filter for multi-file replay dirs
    (slicing-invariance tests feed the same rows as N time-ordered files)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_ts(_stream_table(spark, sf_dir, "events", path_glob=path_glob))


def streaming_wordcount(
    spark: SparkSession, sf_dir: str, path_glob: str | None = None
) -> DataFrame:
    """The flagship word count as an incremental stream (complete mode
    hash-agg state: word → count, updated per micro-batch)."""
    docs = _stream_table(spark, sf_dir, "documents", path_glob=path_glob)
    return words_from_text(docs.select("text")).groupBy("word").count()


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event counts with a 1-hour watermark: state for a
    window is dropped once the watermark passes its end — bounded memory
    on an unbounded stream."""
    ev = _events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "event_type",
            "n",
        )
    )


def streaming_session_windows(
    spark: SparkSession, sf_dir: str, path_glob: str | None = None
) -> DataFrame:
    """Session windows (30 min gap) per user on the stream — Spark merges
    sessions incrementally as events arrive."""
    ev = _events_stream(spark, sf_dir, path_glob=path_glob)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + last-seen timestamp (the arbitrary-state API —
    what you reach for when windows/aggs can't express the semantics)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_type")

    def update(key, batches, state: GroupState):
        (user_id,) = key
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in batches:
            n += len(pdf)
            batch_max = pdf["ts"].max()
            batch_us = int(batch_max.value // 1000)  # pandas ns → µs
            last_us = max(last_us, batch_us)
        state.update((n, last_us))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "last_seen_us": [last_us]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, last_seen_us long",
        stateStructType="n long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_purchase_attribution(
    spark: SparkSession, sf_dir: str, path_glob: str | None = None
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same user's
    clicks in the hour BEFORE it. Both sides are watermarked so Spark can
    bound the join state (clicks older than purchase-watermark − 1h drop).
    The canonical attribution query at 100 TB — state is per-key and
    time-bounded, never the whole history.

    Replay safety: on a TIME-ORDERED multi-batch replay no pair is ever
    dropped — a purchase in batch N+1 has purchase_ts ≥ batch N's max
    event time, so every click it can join (click_ts ≥ purchase_ts − 1h)
    is at or above the watermark when the purchase arrives (proven in
    tests/test_streaming.py's 4-slice replay)."""
    ev = _events_stream(spark, sf_dir, path_glob=path_glob)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR AND
            click_ts < purchase_ts
            """
        ),
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keys state by
    (user_id, event_type) and expires it once the watermark passes — the
    bounded-memory streaming twin of batch dropDuplicates (the unbounded
    version would accumulate state forever on an infinite stream)."""
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    return ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame over the finite test input to completion
    via a memory sink; return the materialized result table."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def streaming_funnel_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel (view → click → purchase) via
    ``transformWithState`` — Spark 4's typed arbitrary-state API
    (successor to applyInPandasWithState: named state variables, RocksDB
    column families, timers). State per user is three µs timestamps
    (0 = stage not reached), exactly the fold accumulator of the batch
    `events_funnel` operator — the replay test pins stream ≡ batch.

    Requires the RocksDB state store provider (the test sets
    ``spark.sql.streaming.stateStore.providerClass``) and protobuf for the
    Python↔JVM state-server protocol — absent in this container, so the
    replay test import-skips; the operator itself is complete."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_type")

    class FunnelProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.stages = handle.getValueState(
                "stages", "t1 long, t2 long, t3 long"
            )

        def handleInputRows(self, key, rows, timerValues):
            t1, t2, t3 = (
                self.stages.get() if self.stages.exists() else (0, 0, 0)
            )
            pdf = pd.concat(list(rows)).sort_values("ts")
            for ts, typ in zip(pdf["ts"], pdf["event_type"]):
                us = int(ts.value // 1000)  # pandas ns → µs
                if t1 == 0 and typ == "view":
                    t1 = us
                elif t1 != 0 and t2 == 0 and typ == "click" and us > t1:
                    t2 = us
                elif t2 != 0 and t3 == 0 and typ == "purchase" and us > t2:
                    t3 = us
            self.stages.update((t1, t2, t3))
            depth = 3 if t3 else 2 if t2 else 1 if t1 else 0
            yield pd.DataFrame(
                {"user_id": [key[0]], "funnel_depth": [depth]}
            )

        def close(self) -> None:
            pass

    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=FunnelProcessor(),
        outputStructType="user_id long, funnel_depth int",
        outputMode="Update",
        timeMode="None",
    )


def streaming_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a BATCH-derived
    dimension (each user's first-active day) — the canonical "join the
    stream to the slowly-changing profile table" pattern. The static side
    is re-planned per micro-batch (no stream state, unlike stream-stream
    joins); no explicit broadcast hint — the profile is O(users) and grows
    with the data, so the engine broadcasts it per micro-batch only while
    it's actually small. A profile refresh is just the next micro-batch
    reading the updated table."""
    from wordcount_spark.sources.readers import load_table

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    )
    ev = _events_stream(spark, sf_dir)
    return (
        ev.join(profile, "user_id")
        .withColumn(
            "user_age_days", F.datediff(F.col("ts").cast("date"), F.col("first_day"))
        )
        .groupBy("user_age_days")
        .agg(F.count("*").alias("n_events"))
    )


def streaming_incremental_merge(
    spark: SparkSession, src_dir: str, path_glob: str = "events.parquet"
) -> DataFrame:
    """CDC apply as a stream: ``foreachBatch`` merges every micro-batch of
    the events changelog into a running latest-per-user state table — the
    production pattern for maintaining a serving snapshot off a change
    stream (with Delta/Iceberg the merge body would be MERGE INTO; the
    relational core is identical, ``operators/cdc.py``).

    Latest-wins is decided by the (ts, event_id) version order, NOT by
    arrival order — so the final state is invariant to how the changelog
    is sliced into micro-batches (the replay test feeds the same rows as
    4 files / 4 out-of-order batches and as one batch and gets identical
    state). Each micro-batch: collapse the batch to its top version per
    key (tiny window over the batch), union with current state, keep the
    max version per key, localCheckpoint the |keys|-sized result so state
    lineage doesn't grow with batch count."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _normalize_ts(
        _stream_table(spark, src_dir, "events", path_glob=path_glob)
    )
    changelog = raw.select("user_id", "event_id", "ts", "event_type", "value")

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    state: dict[str, DataFrame] = {
        "df": spark.createDataFrame([], changelog.schema)
    }

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        combined = state["df"].unionByName(latest)
        state["df"] = (
            combined.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )

    q = changelog.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return state["df"].select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")


def streaming_agg_maintenance(
    spark: SparkSession, src_dir: str, path_glob: str = "events.parquet"
) -> DataFrame:
    """Incremental view maintenance as a stream: ``foreachBatch`` keeps
    BOTH the latest-per-user row state and the per-event_type
    (n_users, total_value) aggregate current, applying each micro-batch
    as retract/assert deltas (``operators/queries_cdc.apply_agg_deltas``)
    instead of re-aggregating the state table.

    Version order (ts, event_id) — not arrival order — decides which
    batch rows WIN against current state; losers produce no delta and
    never touch state, so the final aggregate is invariant to micro-batch
    slicing (proven in tests/test_streaming.py against the declarative
    batch recompute). Per batch the work is: batch-local top-1 window,
    one join against |keys|-sized state, group-count-sized delta merge —
    nothing proportional to history. This is `cdc_incremental_agg`'s
    refresh loop running forever."""
    from pyspark.sql import Window

    from wordcount_spark.operators.queries_cdc import (
        agg_of_state,
        apply_agg_deltas,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _normalize_ts(
        _stream_table(spark, src_dir, "events", path_glob=path_glob)
    )
    changelog = raw.select("user_id", "event_id", "ts", "event_type", "value")

    def as_state(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("val"),
        )

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    empty = spark.createDataFrame([], changelog.schema)
    state: dict[str, DataFrame] = {
        "rows": empty,
        "agg": agg_of_state(as_state(empty)).localCheckpoint(eager=True),
    }

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        b = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        st = state["rows"]
        sv = st.select(
            "user_id", F.struct("ts", "event_id").alias("__sv")
        )
        winners = (
            b.alias("b")
            .join(sv, "user_id", "left")
            .filter(
                F.col("__sv").isNull()
                | (F.struct(F.col("b.ts"), F.col("b.event_id")) > F.col("__sv"))
            )
            .select("user_id", "event_id", "ts", "event_type", "value")
        )
        state["agg"] = apply_agg_deltas(
            state["agg"], as_state(st), as_state(winners)
        ).localCheckpoint(eager=True)
        state["rows"] = (
            st.unionByName(winners)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )

    q = changelog.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return state["agg"].orderBy("event_type")


def streaming_doc_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming document curation: the C4/Gopher-style quality gate as a
    NARROW per-batch filter, then duplicate accounting at (lang,
    content-hash) grain as the one streaming aggregation — the ingest
    shape of ``pipeline_curation`` (streaming forbids chained
    aggregations, so survivor-count rollups happen downstream of the
    per-content state, exactly as they would off a changelog sink).

    State = one row per distinct surviving (lang, content_hash) — bounded
    by distinct-content cardinality, the same state a streaming exact
    dedup keeps. The gate prunes BEFORE state, so garbage never enters.
    tests/test_streaming.py proves stream ≡ batch on replay."""
    from wordcount_spark.operators.queries_textstats import STOPWORDS

    docs = _stream_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = docs.select(
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
        ).alias("n_punct"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias(
            "n_stop"
        ),
    )
    kept = m.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_punct").cast("double") / F.col("n_chars") < 0.1)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") > 0.05)
    )
    return kept.groupBy("lang", F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_copies")
    )


def streaming_lsh_index_maintenance(
    spark: SparkSession, src_dir: str, path_glob: str = "documents.parquet"
) -> DataFrame:
    """Near-dup detection as a stream: ``foreachBatch`` maintains the
    standing banded MinHash-LSH index and, per micro-batch of new
    documents, emits the candidate pairs the batch creates — the
    continuously-deduped-crawl shape (`dedup_minhash_lsh` is the one-shot
    batch twin).

    Per batch: signature → banded rows for the NEW docs only; probe them
    against the index state UNIONED with themselves (so new×old and
    new×new pairs both surface, normalized least/greatest); append the
    batch's banded rows to the state. Both state tables localCheckpoint
    per batch so lineage stays flat. Because every pair is found exactly
    when its LATER member arrives, the accumulated pair set after a
    finite replay EQUALS the full-batch LSH pair set — invariant to batch
    slicing (proven in tests/test_streaming.py), which is what upgrades
    this stream to a STRONG oracle in the driver contract.

    State: banded index is O(docs × bands) — the table a production
    pipeline persists anyway; pairs state is O(candidate pairs)."""
    from wordcount_spark.operators.dedup import (
        doc_shingle_hashes,
        lsh_banded_index,
        minhash_signatures,
    )

    docs = _stream_table(spark, src_dir, "documents", path_glob=path_glob).select(
        "doc_id", "text"
    )
    from pyspark.sql.types import StructField, StructType, LongType, StringType, IntegerType

    idx_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("band", IntegerType()),
            StructField("bucket", StringType()),
        ]
    )
    pair_schema = StructType(
        [StructField("ida", LongType()), StructField("idb", LongType())]
    )
    state: dict[str, DataFrame] = {
        "index": spark.createDataFrame([], idx_schema),
        "pairs": spark.createDataFrame([], pair_schema),
    }

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        banded = lsh_banded_index(minhash_signatures(doc_shingle_hashes(batch)))
        build = state["index"].unionByName(
            banded.select(F.col("id"), F.col("band").cast("int"), "bucket")
        )
        probe = banded.alias("a")
        b = build.alias("b")
        new_pairs = (
            probe.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least("a.id", "b.id").alias("ida"),
                F.greatest("a.id", "b.id").alias("idb"),
            )
            .distinct()
        )
        state["pairs"] = (
            state["pairs"].unionByName(new_pairs).distinct().localCheckpoint(eager=True)
        )
        state["index"] = build.localCheckpoint(eager=True)
        banded.unpersist()

    q = docs.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return state["pairs"].orderBy("ida", "idb")


def streaming_line_dedup(
    spark: SparkSession, src_dir: str, path_glob: str = "documents.parquet"
) -> DataFrame:
    """C4-style line-level dedup as a stream: ``foreachBatch`` maintains
    the standing line-ownership index — line hash → lowest doc_id seen —
    and accumulates per-document line rows; the final per-doc audit
    (lines / removed / kept chars) equals the batch `text_line_dedup_c4`
    exactly. Ownership merges by MIN (a CRDT-style merge), so the final
    owner of every line is the GLOBAL min doc_id regardless of arrival
    order or batch slicing — that invariance is what upgrades this
    stream to the batch query's full SQL oracle (proven in
    tests/test_streaming.py).

    State: owners O(distinct lines) — the dedup index a production
    pipeline persists anyway; doc_lines O(lines) of 3 narrow columns
    (here accumulated to close the audit; production emits them to the
    sink incrementally instead). Per batch the merge touches O(batch
    lines) keys.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = _stream_table(spark, src_dir, "documents", path_glob=path_glob).select(
        "doc_id", "text"
    )
    own_schema = StructType(
        [StructField("line_h", StringType()), StructField("keeper", LongType())]
    )
    dl_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("line_h", StringType()),
            StructField("llen", LongType()),
        ]
    )
    state: dict[str, DataFrame] = {
        "owners": spark.createDataFrame([], own_schema),
        "doc_lines": spark.createDataFrame([], dl_schema),
    }
    w = 15

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        toks = tokenize("text")
        nl = F.floor((F.size(toks) + F.lit(w - 1)) / F.lit(w)).cast("long")
        lines = batch.where(F.size(toks) > 0).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), nl - 1),
                    lambda i: F.array_join(
                        F.slice(toks, (i * w + 1).cast("int"), w), " "
                    ),
                )
            ).alias("line"),
        )
        batch_lines = lines.select(
            "doc_id",
            F.md5("line").alias("line_h"),
            F.length("line").cast("long").alias("llen"),
        )
        batch_own = batch_lines.groupBy("line_h").agg(
            F.min("doc_id").alias("keeper")
        )
        # CRDT min-merge: arrival order cannot change the final owner
        state["owners"] = (
            state["owners"]
            .unionByName(batch_own)
            .groupBy("line_h")
            .agg(F.min("keeper").alias("keeper"))
            .localCheckpoint(eager=True)
        )
        state["doc_lines"] = (
            state["doc_lines"].unionByName(batch_lines).localCheckpoint(eager=True)
        )

    q = docs.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        state["doc_lines"]
        .join(state["owners"], "line_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count_if(F.col("doc_id") != F.col("keeper"))
            .cast("long")
            .alias("n_removed"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keeper"), F.col("llen")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("doc_id")
    )
