"""Streaming queries in the driver contract. Most carry STRONG oracles:
the finite replay's final state is SQL-expressible (complete-mode state ≡
the batch aggregate; version-ordered merges ≡ the declarative recompute;
single-batch replay means watermarks drop nothing), so the batch SQL
checks the whole stream → state pipeline. A query whose oracle is its
batch twin's SQL adds only the incremental state, so its docstring names
the multi-batch replay test in tests/test_streaming.py that pins it."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.registry import register
from wordcount_spark.streaming.streams import (
    run_to_completion,
    streaming_windowed_counts,
    streaming_wordcount,
)


def _streaming_wc_oracle() -> str:
    from wordcount_spark.operators.queries_wordcount import _wc_sql

    return _wc_sql()


# STRONG oracle despite being a streaming op: complete-mode state after
# consuming the whole finite input IS the batch word count, so the batch
# flagship's SQL checks the entire stream → state pipeline (same upgrade
# streaming_incremental_merge has; eager: the callable drives the stream)
@register("streaming_wordcount", _streaming_wc_oracle(), eager=True)
def q_streaming_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship word count as an incremental stream, run to completion over
    the finite test input via a memory sink; the final complete-mode state
    is hash-compared against the BATCH flagship's oracle — the strongest
    check a streaming op can carry. The 4-micro-batch replay is
    tests/test_streaming.py::test_wordcount_invariant_to_batch_slicing.

    Scale: complete-mode aggregation state is O(vocab) (Zipf-bounded);
    each micro-batch does the same map-side-combinable count as the
    batch flagship — the shuffle is per-batch, not per-stream."""
    final = run_to_completion(
        streaming_wordcount(spark, sf_dir), "q_streaming_wordcount", "complete"
    )
    return final.select("word", F.col("count").alias("cnt")).orderBy("word")


# STRONG oracle despite being a streaming op: complete-mode window state
# after the finite replay IS the batch tumbling-window count (complete
# mode never evicts, and 1-day windows are epoch-aligned = UTC midnight
# under the pinned-UTC session), so plain GROUP BY date_trunc checks the
# whole stream → window-state pipeline.
@register(
    "streaming_windowed_counts",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
           CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS we,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type
    """,
    eager=True,
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window event counts as a stream, replayed to
    completion; the final complete-mode state is hash-compared against
    the batch GROUP-BY-day oracle (upgraded from rows-only in r4).

    Scale: the watermark bounds window state to the lateness horizon —
    expired windows emit and evict, so state is O(active windows x
    types), independent of stream length."""
    final = run_to_completion(
        streaming_windowed_counts(spark, sf_dir), "q_streaming_windows", "complete"
    )
    return final.orderBy("ws", "event_type")


def _session_oracle() -> str:
    # the batch twin's lag+running-sum sessionization SQL transfers
    # verbatim: complete-mode session state after the finite replay IS
    # the batch session set (identical output columns)
    import wordcount_spark.operators.queries_windows  # noqa: F401  (registers window_session)

    from wordcount_spark.registry import ORACLES

    return ORACLES["window_session"]


# STRONG oracle (upgraded from rows-only in r4): session merging in
# complete mode never evicts, so the final state equals the batch
# session_window group — checked by the SAME SQL window_session carries.
@register("streaming_session_windows", _session_oracle(), eager=True)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 30-min session windows per user, replayed to completion
    (batch twin `window_session` is the oracle-backed shape; its oracle
    is reused verbatim here). The 4-micro-batch time-ordered replay is
    tests/test_streaming.py::test_session_windows_invariant_to_time_ordered_slicing.

    Scale: session state is per-user open sessions only; the watermark
    closes and evicts sessions past the horizon. One user-keyed
    state-store partitioning, same key as the batch sessionizers."""
    from wordcount_spark.streaming.streams import streaming_session_windows

    final = run_to_completion(
        streaming_session_windows(spark, sf_dir), "q_streaming_sessions", "complete"
    )
    return final.orderBy("user_id", "session_start")


# STRONG oracle (upgraded from rows-only in r4): the single-file replay
# is one micro-batch, so the watermarks never drop a row and the emitted
# pair set IS the batch interval join — checked by plain SQL.
@register(
    "streaming_purchase_attribution",
    """
    WITH clicks AS (
      SELECT user_id AS c_user, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id AS p_user, ts AS purchase_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p_user, purchase_ts, purchase_id, c_user, click_ts
    FROM purchases JOIN clicks
      ON p_user = c_user
     AND click_ts >= purchase_ts - INTERVAL 1 HOUR
     AND click_ts < purchase_ts
    ORDER BY purchase_id, click_ts
    """,
    eager=True,
)
def q_streaming_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases × prior-hour clicks), both
    sides watermarked so join state stays time-bounded; the accumulated
    append-mode output over the finite replay is hash-compared against
    the batch interval-join SQL. The 4-micro-batch replay is
    tests/test_streaming.py::test_attribution_invariant_to_time_ordered_slicing.

    Scale: the interval condition + watermarks bound both join buffers
    to the hour horizon — without them stream-stream join state grows
    unboundedly; with them it is O(events per horizon)."""
    from wordcount_spark.streaming.streams import streaming_purchase_attribution

    final = run_to_completion(
        streaming_purchase_attribution(spark, sf_dir), "q_streaming_attr", "append"
    )
    return final.orderBy("purchase_id", "click_ts")


# STRONG oracle (upgraded from rows-only in r4) on the KEY SET: which
# concrete row survives dedup is arrival-order-dependent (undefined
# within a micro-batch), but the set of surviving keys is exactly the
# distinct key set — so the query projects to keys and the oracle is
# plain SELECT DISTINCT.
@register(
    "streaming_dedup_events",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    eager=True,
)
def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — bounded-state streaming exact dedup,
    replayed to completion and projected to the surviving (user_id,
    event_type) key set (the survivor ROW is arrival-order-dependent and
    deliberately not asserted; the key set is exact).

    Scale: the dedup key set is evicted past the watermark horizon —
    state O(distinct keys per horizon), the property that makes exact
    streaming dedup feasible at all at 100 TB/day."""
    from wordcount_spark.streaming.streams import streaming_dedup_events

    final = run_to_completion(
        streaming_dedup_events(spark, sf_dir), "q_streaming_dedup", "append"
    )
    return final.select("user_id", "event_type").orderBy("user_id", "event_type")


# STRONG oracle (upgraded from rows-only in r4): the static side is a
# deterministic batch aggregate and complete mode never evicts, so the
# final enriched histogram IS the batch join+group — plain SQL.
@register(
    "streaming_enrich_static_join",
    """
    WITH profile AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    )
    SELECT CAST(datediff('day', first_day, CAST(ts AS DATE)) AS BIGINT)
             AS user_age_days,
           count(*) AS n_events
    FROM events JOIN profile USING (user_id)
    GROUP BY 1 ORDER BY user_age_days
    """,
    eager=True,
)
def q_streaming_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (event stream × batch profile),
    replayed to completion; the final per-age event histogram is
    hash-compared against the batch join+group SQL."""
    from wordcount_spark.streaming.streams import streaming_enrich_static_join

    final = run_to_completion(
        streaming_enrich_static_join(spark, sf_dir), "q_streaming_enrich", "complete"
    )
    return final.select(
        F.col("user_age_days").cast("long").alias("user_age_days"), "n_events"
    ).orderBy("user_age_days")


@register(
    "streaming_incremental_merge",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    ORDER BY user_id
    """,
    eager=True,  # foreachBatch drives the stream inside the callable
)
def q_streaming_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC apply: micro-batches of the events changelog merged
    into a running latest-per-user state. Unusually for a streaming op the
    FINAL state is exactly SQL-expressible (global latest per key), so
    this one gets the strong oracle, not a rows-only check — the whole
    stream → merge → state pipeline is differentially verified. The
    4-micro-batch replay is
    tests/test_streaming.py::test_incremental_merge_invariant_to_batch_slicing.

    Scale: each micro-batch merges O(batch keys) into the state table —
    the per-batch window dedup keys on user_id and the apply is an
    anti-join + union, never a full-state rewrite."""
    from wordcount_spark.streaming.streams import streaming_incremental_merge

    return streaming_incremental_merge(spark, sf_dir)


def _agg_maintenance_oracle() -> str:
    # version order (ts, event_id) — not arrival order — decides winners,
    # so the final maintained aggregate over the finite replay equals the
    # batch twin's declarative recompute; its SQL transfers verbatim
    import wordcount_spark.operators.queries_cdc  # noqa: F401  (registers cdc_incremental_agg)

    from wordcount_spark.registry import ORACLES

    return ORACLES["cdc_incremental_agg"]


# STRONG oracle (upgraded from rows-only in r4): the batch twin
# cdc_incremental_agg's SQL checks the final maintained state.
@register("streaming_agg_maintenance", _agg_maintenance_oracle(), eager=True)
def q_streaming_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type aggregate maintained incrementally by foreachBatch
    retract/assert deltas; the batch twin `cdc_incremental_agg`'s SQL is
    reused verbatim as this query's oracle, and the slicing-invariance
    replay closes the loop
    (tests/test_streaming.py::test_agg_maintenance_invariant_to_batch_slicing).

    Scale: deltas are O(touched groups) per micro-batch (event_type
    cardinality), so the maintained table updates in group-sized writes
    regardless of stream volume."""
    from wordcount_spark.streaming.streams import streaming_agg_maintenance

    # DECIMAL internally (retractions must cancel exactly), DOUBLE at the
    # output boundary — the engine-parity output-type rule
    return streaming_agg_maintenance(spark, sf_dir).select(
        "event_type",
        "n_users",
        F.col("total_value").cast("double").alias("total_value"),
    ).orderBy("event_type")


def _doc_quality_oracle() -> str:
    # the gate CTEs are shared VERBATIM with pipeline_curation's oracle
    # (queries_dedup._GATE_CTES) — the predicates cannot drift apart
    from wordcount_spark.operators.queries_dedup import _GATE_CTES
    from wordcount_spark.operators.queries_textstats import STOPWORDS

    return (
        "WITH "
        + _GATE_CTES.format(stop=STOPWORDS).strip()
        + """
    SELECT lang, md5(text) AS content_hash, count(*) AS n_copies
    FROM kept GROUP BY 1, 2 ORDER BY lang, content_hash
    """
    )


# STRONG oracle (upgraded from rows-only in r4): complete-mode state
# after the finite replay = gate + per-(lang, content-hash) counts, the
# exact prefix of the oracle-backed pipeline_curation — same SQL CTEs.
@register("streaming_doc_quality_dedup", _doc_quality_oracle(), eager=True)
def q_streaming_doc_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: quality gate (narrow, pre-state) +
    per-(lang, content-hash) duplicate accounting as the single streaming
    aggregation (batch twin: the gate+dedup prefix of the oracle-backed
    ``pipeline_curation``, whose gate CTEs this oracle reuses verbatim)."""
    from wordcount_spark.streaming.streams import streaming_doc_quality_dedup

    final = run_to_completion(
        streaming_doc_quality_dedup(spark, sf_dir), "q_streaming_doc_curation",
        "complete",
    )
    return final.orderBy("lang", "content_hash")


def _lsh_full_oracle() -> str:
    from wordcount_spark.operators.queries_dedup import _minhash_sql

    return _minhash_sql()


# STRONG oracle for a streaming op: every candidate pair is emitted
# exactly when its LATER member arrives, so the accumulated pair set
# after the finite replay equals the full-batch LSH pair set — the batch
# pipeline's SQL checks the whole stream→index→probe loop (slicing
# invariance proven in tests/test_streaming.py)
@register("streaming_lsh_incremental", _lsh_full_oracle(), eager=True)
def q_streaming_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates maintained as a stream: each
    micro-batch of documents probes the standing banded index, emits the
    pairs it creates, and appends its own band rows to the index
    (`streaming/streams.py::streaming_lsh_index_maintenance`). The
    4-micro-batch replay is
    tests/test_streaming.py::test_lsh_incremental_invariant_to_batch_slicing.

    Scale: per batch the probe costs O(|Δ|·bands) rows joined against
    the bucketed index; the index state is the table a production LSH
    pipeline persists anyway. Old×old pairs never rejoin."""
    from wordcount_spark.streaming.streams import streaming_lsh_index_maintenance

    return streaming_lsh_index_maintenance(spark, sf_dir)


def _line_dedup_oracle() -> str:
    from wordcount_spark.registry import ORACLES

    return ORACLES["text_line_dedup_c4"]


# STRONG oracle for a streaming op: line ownership merges by MIN (a
# CRDT-style merge), so the accumulated owner of every line is the GLOBAL
# min doc_id no matter how the stream is sliced — the finite replay's
# final audit equals the batch text_line_dedup_c4 byte for byte (slicing
# invariance proven in tests/test_streaming.py)
@register("streaming_line_dedup", _line_dedup_oracle(), eager=True)
def q_streaming_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level dedup maintained as a stream: foreachBatch merges
    each micro-batch's line hashes into the standing ownership index
    with a min-merge and emits the per-document audit at the end
    (`streaming/streams.py::streaming_line_dedup`). The 4-micro-batch
    replay is tests/test_streaming.py::test_line_dedup_invariant_to_batch_slicing.

    Scale: per batch the merge touches O(batch lines) index keys; the
    ownership index is the dedup state a production crawl pipeline
    persists anyway. The batch twin's SQL is this query's full oracle."""
    from wordcount_spark.streaming.streams import streaming_line_dedup

    return streaming_line_dedup(spark, sf_dir)
