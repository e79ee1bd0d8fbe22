"""Time-series operators: gap-filled resampling and hypertable-style
multi-granularity rollups over ``events`` (extension surface, SURVEY.md
§2.7 — the reference has no temporal operators at all).

Scale notes (the whole point of these shapes at 100 TB):

- **Gap-fill**: the dense spine has ``time_range / grain × |type|`` rows —
  a function of the *time span*, not the data volume, so it stays tiny
  (720 hours × 5 types here) no matter how many raw events exist. The only
  big operation is the hourly hash-aggregation of the raw scan (map-side
  partial combine, one shuffle on (bucket, type)); the spine is filled
  from one global aggregate of post-aggregation data.
- **Multi-grain rollup**: aggregate the raw data ONCE at the finest grain,
  then derive every coarser grain *from the fine aggregate* (hour → day is
  a few-thousand-row shuffle). Grouping-sets over the raw input would
  Expand-duplicate every raw row per grain before the shuffle — 2× the map
  work for identical results. The fine aggregate is cached because two
  branches (hour output, day rollup) consume it; it is bucket-count sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.operators.relational import dec, sort_small
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest-grain aggregate: (hour bucket, event_type) → count + sum."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_hour"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum(dec("value")).alias("sum_value"))


@register(
    "events_gapfill_hourly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             count(*) AS n_raw, sum(CAST(value AS DECIMAL(18,2))) AS sv
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_hour
      FROM span
    ),
    grid AS (
      SELECT spine.bucket_hour, t.event_type
      FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT g.bucket_hour, g.event_type,
           coalesce(h.n_raw, 0) AS n_events,
           CAST(coalesce(h.sv, 0) AS DOUBLE) AS sum_value
    FROM grid g
    LEFT JOIN hourly h
      ON g.bucket_hour = h.bucket_hour AND g.event_type = h.event_type
    ORDER BY g.bucket_hour, g.event_type
    """,
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample: every (hour, event_type) cell in the observed
    span, zero-filled where no events landed (timeseries DBs call this
    gap-filling; the reference has nothing temporal — SURVEY.md §2.7).

    Plan shape: one scan of the fact table and its hourly aggregate (the
    only shuffle of raw-event partials), then ONE global aggregate over
    that O(hours × types) frame that carries everything the spine needs:
    ``min``/``max(bucket_hour)`` (equal to the hour-truncated span of raw
    ``ts``), the sorted distinct types, and the observed cells as a
    (hour, type) → (count, sum) map. Two explodes (``sequence(lo, hi, 1
    hour)``, both ends inclusive like DuckDB ``generate_series``, and the
    types) generate the grid, and a map lookup fills it, so there is no
    cache pin read by several branches and no spine cross join. The
    one-row map holds the same O(hours × types) cells the older
    broadcast-join plan shipped to every task; the grid is produced by a
    single task, sorted in place (``sort_small``).

    Scale: the grid is a function of the time SPAN × |types|, not of the
    event volume (720 × 5 cells here). At 100 TB the hourly aggregate is
    the cost; a span of years at a fine grain makes the one-row map and
    the one grid task the limit, and the fallback is to gap-fill per
    type (or per span slice) as a grouped aggregate instead of a global
    one.
    """
    hourly = _hourly(spark, sf_dir)
    cell = F.struct("bucket_hour", "event_type")
    summary = hourly.agg(
        F.min("bucket_hour").alias("lo"),
        F.max("bucket_hour").alias("hi"),
        # struct-wrapped so a NULL type stays in the spine like the
        # oracle's DISTINCT; its cells stay out of the map, as a NULL
        # join key never matches
        F.array_sort(F.collect_set(F.struct("event_type"))).alias("types"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("event_type").isNotNull(),
                    F.struct(cell, F.struct("n_events", "sum_value")),
                )
            )
        ).alias("cells"),
    )
    grid = summary.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "bucket_hour"
        ),
        "types",
        "cells",
    ).select(
        "bucket_hour", F.explode("types.event_type").alias("event_type"), "cells"
    )
    found = F.col("cells")[cell]
    return sort_small(
        grid.select(
            "bucket_hour",
            "event_type",
            F.coalesce(found["n_events"], F.lit(0)).alias("n_events"),
            F.coalesce(found["sum_value"], F.lit(0)).cast("double").alias("sum_value"),
        ),
        "bucket_hour",
        "event_type",
    )


@register(
    "events_resample_ffill",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             max_by(value, event_id) AS last_obs
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT s.bucket_hour, t.event_type
      FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_hour
            FROM span) s
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT bucket_hour, event_type,
           last_value(last_obs IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket_hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           (last_obs IS NULL) AS was_gap
    FROM grid LEFT JOIN hourly USING (bucket_hour, event_type)
    ORDER BY bucket_hour, event_type
    """,
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) resample: the dense
    hourly grid, each gap cell filled with the most recent observed value
    for that event type. "Last observation" inside an hour is made
    deterministic with ``max_by(value, event_id)`` (event_id is unique).

    Scale: the LOCF window runs over the POST-aggregation grid (buckets ×
    types), partitioned by type — never over raw events. Leading cells
    before a type's first observation stay NULL, faithfully."""
    ev = load_table(spark, sf_dir, "events")
    # span/types from the cached hourly aggregate — one fact scan, not
    # three: min/max(bucket_hour) is the hour-truncated span of raw ts,
    # and every type appears in the aggregate
    hourly = bounded_cache(
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_hour"), "event_type"
        ).agg(F.max_by("value", "event_id").alias("last_obs"))
    )
    span = hourly.agg(
        F.min("bucket_hour").alias("lo"), F.max("bucket_hour").alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "bucket_hour"
        )
    )
    grid = spine.crossJoin(hourly.select("event_type").distinct())
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["bucket_hour", "event_type"], "left")
        .select(
            "bucket_hour",
            "event_type",
            F.last("last_obs", ignorenulls=True).over(w).alias("filled_value"),
            F.col("last_obs").isNull().alias("was_gap"),
        )
        .orderBy("bucket_hour", "event_type")
    )


@register(
    "events_sessionize_gap",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM numbered GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap-based sessionization (30-min inactivity): lag → boundary
    flag → running sum = session ordinal → per-session aggregates. The
    companion ``window_session`` uses Spark's built-in ``session_window``;
    this spells the mechanism out and is exactly SQL-expressible, so it
    gets the strong oracle.

    Scale: ONE shuffle on user_id serves both windows and the final
    groupBy (same partitioning); sort within partition is (ts, event_id)
    for a deterministic total order. Session durations are integer
    microsecond diffs — exact on both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "events_rollup_multigrain",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, bucket_hour AS bucket, event_type,
           n_events, CAST(sv AS DOUBLE) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS grain, date_trunc('day', bucket_hour) AS bucket, event_type,
           CAST(sum(n_events) AS BIGINT) AS n_events, CAST(sum(sv) AS DOUBLE) AS sum_value
    FROM hourly GROUP BY 2, 3
    ORDER BY grain, bucket, event_type
    """,
)
def events_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour and day grains in
    one result, the day grain re-aggregated FROM the hour aggregate (never
    from raw — see module docstring for why this beats grouping-sets at
    scale)."""
    hourly = bounded_cache(_hourly(spark, sf_dir))
    hour_out = hourly.select(
        F.lit("hour").alias("grain"),
        F.col("bucket_hour").alias("bucket"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )
    day_out = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_hour").alias("bucket"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .select(F.lit("day").alias("grain"), "bucket", "event_type", "n_events", "sum_value")
    )
    return hour_out.unionByName(day_out).orderBy("grain", "bucket", "event_type")


@register("events_hll_rollup")  # rows-only: sketch estimates are engine-specific
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-hour HLL sketches of distinct users,
    UNIONED up to day grain (``hll_union_agg``) and only then estimated —
    the pre-aggregation pattern for distinct counts at 100 TB, where exact
    per-window distinct is a full shuffle of raw keys but sketch union is
    a few-KB-per-bucket merge. The exact day-grain distinct is computed
    alongside purely as the audit column (pytest bounds the relative
    error; production would drop it).

    No SQL oracle: DataSketches HLL internals are engine-specific (DuckDB
    approx_distinct uses a different sketch) — rows-only in the contract,
    error-bounded in tests/test_timeseries_llmprep.py. The KMV twin below
    (``events_kmv_rollup``) is the same rollup shape with a BIT-EXACT
    cross-engine oracle — its sketch state is deterministic integers
    given the portable xxhash64."""
    ev = load_table(spark, sf_dir, "events")
    hour = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_hour"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    day_est = (
        hour.groupBy(
            F.date_trunc("day", "bucket_hour").alias("bucket_day"), "event_type"
        )
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_est"))
    )
    day_exact = ev.groupBy(
        F.date_trunc("day", "ts").alias("bucket_day"), "event_type"
    ).agg(F.count_distinct("user_id").alias("n_users_exact"))
    return (
        day_est.join(day_exact, ["bucket_day", "event_type"])
        .orderBy("bucket_day", "event_type")
    )


def _kmv_oracle(k: int) -> str:
    from wordcount_spark.operators.xxh64_sql import xxh64_pipeline_sql

    vh = xxh64_pipeline_sql(
        "SELECT DISTINCT user_id::VARCHAR AS tok FROM events"
    )
    return f"""
    WITH u AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
             event_type AS et, user_id
      FROM events
    ),
    vh AS (SELECT tok, th FROM ({vh})),
    thr AS (
      SELECT DISTINCT d, et, h, th
      FROM u JOIN vh ON vh.tok = u.user_id::VARCHAR
    ),
    hk AS (
      SELECT d, et, h, th FROM (
        SELECT *, row_number() OVER (PARTITION BY d, et, h ORDER BY th) AS rk
        FROM thr) t WHERE rk <= {k}
    ),
    dk AS (
      SELECT d, et, th FROM (
        SELECT *, row_number() OVER (PARTITION BY d, et ORDER BY th) AS rk
        FROM (SELECT DISTINCT d, et, th FROM hk) x) t WHERE rk <= {k}
    ),
    ds AS (SELECT d, et, count(*) AS kmv_n, max(th) AS kth
           FROM dk GROUP BY 1, 2),
    nh AS (SELECT d, et, count(DISTINCT h) AS n_hours FROM hk GROUP BY 1, 2),
    ex AS (SELECT date_trunc('day', ts) AS d, event_type AS et,
                  count(DISTINCT user_id) AS n_users_exact
           FROM events GROUP BY 1, 2)
    SELECT CAST(ds.d AS TIMESTAMP) AS bucket_day, ds.et AS event_type,
           CAST(nh.n_hours AS BIGINT) AS n_hours,
           CAST(CASE WHEN kmv_n < {k} THEN kmv_n
                     ELSE CAST({k} - 1 AS BIGINT) * CAST(2147483647 AS BIGINT)
                          // kth END AS BIGINT)
             AS n_users_kmv,
           CAST(n_users_exact AS BIGINT) AS n_users_exact
    FROM ds JOIN nh USING (d, et)
    JOIN ex ON ex.d = ds.d AND ex.et = ds.et
    ORDER BY bucket_day, event_type
    """


_KMV_K = 64


@register("events_kmv_rollup", _kmv_oracle(_KMV_K))
def events_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup with a BIT-EXACT oracle: per-hour K-minimum-
    values sketches (K=64) of distinct users, merged to day grain, only
    then estimated — the same pre-aggregation shape as the HLL rollup
    above, but the sketch state is a deterministic integer set given the
    portable xxhash64 (operators/xxh64_sql.py), so BOTH engines compute
    identical states AND identical estimates: a hash-compared differential
    check of a sketch pipeline, which engine-specific HLL can never have.

    The hour→day merge is provably lossless for the K smallest: a value
    in the day's K smallest has ≤ K-1 day values below it, hence ≤ K-1
    within its own hour — so it survives its hour's cut. Estimate =
    (K-1)·P div kth (integer arithmetic; exact count when fewer than K
    distinct hashes exist). The exact day distinct is the audit column.

    Scale: the rank-≤-K per (day, type, hour) is a WindowGroupLimit —
    Spark pushes the top-K into each mapper, so the exchange carries
    O(groups×K) rows, not raw users; the day merge reads ≤ 24K rows per
    (day, type). The exact audit column is the one full distinct shuffle
    — production drops it and keeps only the sketch path.
    """
    from pyspark.sql import Window

    from wordcount_spark.operators.dedup import base_hash

    ev = load_table(spark, sf_dir, "events")
    thr = (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            F.date_trunc("hour", "ts").alias("h"),
            F.col("event_type").alias("et"),
            base_hash(F.col("user_id").cast("string")).alias("th"),
        )
        .distinct()
    )
    wh = Window.partitionBy("d", "et", "h").orderBy("th")
    hk = (
        thr.withColumn("rk", F.row_number().over(wh))
        .where(F.col("rk") <= _KMV_K)
        .select("d", "et", "h", "th")
    )
    wd = Window.partitionBy("d", "et").orderBy("th")
    dk = (
        hk.select("d", "et", "th")
        .distinct()
        .withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") <= _KMV_K)
    )
    ds = dk.groupBy("d", "et").agg(
        F.count("*").alias("kmv_n"), F.max("th").alias("kth")
    )
    nh = hk.groupBy("d", "et").agg(F.count_distinct("h").alias("n_hours"))
    ex = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), F.col("event_type").alias("et")
    ).agg(F.count_distinct("user_id").alias("n_users_exact"))
    est = F.when(F.col("kmv_n") < _KMV_K, F.col("kmv_n")).otherwise(
        F.expr(
            f"CAST({_KMV_K} - 1 AS BIGINT) * CAST(2147483647 AS BIGINT) div kth"
        )
    )
    return (
        ds.join(nh, ["d", "et"])
        .join(ex, ["d", "et"])
        .select(
            F.col("d").alias("bucket_day"),
            F.col("et").alias("event_type"),
            F.col("n_hours").cast("long").alias("n_hours"),
            est.cast("long").alias("n_users_kmv"),
            F.col("n_users_exact").cast("long").alias("n_users_exact"),
        )
        .orderBy("bucket_day", "event_type")
    )


@register(
    "events_lateness_watermark_audit",
    """
    WITH l AS (
      SELECT user_id,
             CAST(greatest(0, epoch_us(max(ts) OVER (PARTITION BY user_id
                                                     ORDER BY event_id
                                                     ROWS UNBOUNDED PRECEDING))
                              - epoch_us(ts)) AS BIGINT) AS late_us
      FROM events
    )
    SELECT CASE WHEN late_us = 0 THEN 0
                ELSE least(CAST(floor(log10(CAST(late_us AS DOUBLE) / 1000000.0)
                                      + 4.0 + 1e-9) AS BIGINT), 8) END
             AS lateness_bucket,
           count(*) AS n_events,
           max(late_us) AS max_late_us
    FROM l
    WHERE late_us = 0 OR late_us >= 1000
    GROUP BY 1 ORDER BY lateness_bucket
    """,
)
def events_lateness_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing audit: how far BEHIND the per-user high-water
    mark do events arrive? Arrival order is event_id (the ingestion
    sequence); lateness = running max(ts) so far minus this event's ts.
    Bucketed on a log10-seconds scale (bucket 0 = strictly in order;
    bucket 1 = [1 ms, 10 ms), 4 = [1 s, 10 s), … capped at 8) with the
    max observed lateness per bucket — exactly the distribution you read
    before choosing the `withWatermark` delay for the streaming queries
    (too small drops the tail; too large bloats state). Sub-millisecond
    stragglers are folded out entirely (they never inform a watermark
    choice), so bucket 0 is purely the in-order population — no bucket
    conflates the two.

    Scale: ONE shuffle on user_id for the running-max window (same
    partitioning the sessionizers use), then an O(buckets) rollup.
    Integer microsecond arithmetic end to end; the only float op is the
    log10 bucket index. Inputs at exact powers of ten (1000 µs, 10000 µs,
    …) land ON a log10 bucket edge where a 1-ulp libm difference between
    the engines would flip floor(), so a +1e-9 nudge inside the floor
    pins edge values to the upper bucket on both engines (same device as
    ``stable_round``; real lateness values a full 1e-9 below an edge in
    log space don't occur at integer microsecond granularity)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_us = F.greatest(
        F.lit(0),
        F.unix_micros(F.max("ts").over(w)) - F.unix_micros("ts"),
    ).cast("long")
    l = ev.select(late_us.alias("late_us"))
    bucket = (
        F.when(F.col("late_us") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    F.log10(F.col("late_us").cast("double") / 1000000.0)
                    + 4.0
                    + 1e-9
                ).cast("long"),
                F.lit(8),
            )
        )
        .alias("lateness_bucket")
    )
    return (
        l.where((F.col("late_us") == 0) | (F.col("late_us") >= 1000))
        .groupBy(bucket)
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_us").alias("max_late_us"),
        )
        .orderBy("lateness_bucket")
    )


@register(
    "events_resample_interpolate",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             max_by(value, event_id) AS obs
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT s.bucket_hour, t.event_type
      FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_hour
            FROM span) s
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ),
    neighbors AS (
      SELECT bucket_hour, event_type, obs,
             CAST(epoch(bucket_hour) AS BIGINT) // 3600 AS h,
             last_value(obs IGNORE NULLS) OVER w_back AS v0,
             last_value(CASE WHEN obs IS NOT NULL
                             THEN CAST(epoch(bucket_hour) AS BIGINT) // 3600 END
                        IGNORE NULLS) OVER w_back AS h0,
             first_value(obs IGNORE NULLS) OVER w_fwd AS v1,
             first_value(CASE WHEN obs IS NOT NULL
                              THEN CAST(epoch(bucket_hour) AS BIGINT) // 3600 END
                         IGNORE NULLS) OVER w_fwd AS h1
      FROM grid LEFT JOIN hourly USING (bucket_hour, event_type)
      WINDOW
        w_back AS (PARTITION BY event_type ORDER BY bucket_hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY event_type ORDER BY bucket_hour
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT bucket_hour, event_type,
           CASE WHEN obs IS NOT NULL THEN obs
                WHEN v0 IS NOT NULL AND v1 IS NOT NULL
                THEN v0 + (v1 - v0) * (CAST(h - h0 AS DOUBLE) / (h1 - h0))
           END AS interp_value,
           (obs IS NULL) AS was_gap
    FROM neighbors
    ORDER BY bucket_hour, event_type
    """,
)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample: the dense hourly grid per event
    type, gap cells filled by interpolating between the NEAREST observed
    neighbors on each side — the standard time-series imputation one step
    up from LOCF (`events_resample_ffill`). Edge cells with only one
    neighbor stay NULL (no extrapolation). Engine parity: the lerp is the
    single fixed expression ``v0 + (v1-v0) * ((h-h0)/(h1-h0))`` on both
    sides — hour indexes are exact integers, each IEEE op is
    deterministic, so the doubles agree bitwise with no rounding.

    Scale: both neighbor searches are IGNORE NULLS frame windows over the
    POST-aggregation grid (buckets × types), partitioned by type — raw
    events are touched once by the hourly aggregate. Same cost profile as
    LOCF: one shuffle on event_type for the window, one for the grid
    join."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_hour"), "event_type"
    ).agg(F.max_by("value", "event_id").alias("obs"))
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "bucket_hour"
        )
    )
    grid = spine.crossJoin(ev.select("event_type").distinct()).join(
        hourly, ["bucket_hour", "event_type"], "left"
    )
    from pyspark.sql import Window

    h = F.expr("unix_timestamp(bucket_hour) div 3600")
    h_obs = F.when(F.col("obs").isNotNull(), h)
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    n = grid.select(
        "bucket_hour",
        "event_type",
        "obs",
        h.alias("h"),
        F.last("obs", ignorenulls=True).over(w_back).alias("v0"),
        F.last(h_obs, ignorenulls=True).over(w_back).alias("h0"),
        F.first("obs", ignorenulls=True).over(w_fwd).alias("v1"),
        F.first(h_obs, ignorenulls=True).over(w_fwd).alias("h1"),
    )
    lerp = F.col("v0") + (F.col("v1") - F.col("v0")) * (
        (F.col("h") - F.col("h0")).cast("double") / (F.col("h1") - F.col("h0"))
    )
    return (
        n.select(
            "bucket_hour",
            "event_type",
            F.when(F.col("obs").isNotNull(), F.col("obs"))
            .when(F.col("v0").isNotNull() & F.col("v1").isNotNull(), lerp)
            .alias("interp_value"),
            F.col("obs").isNull().alias("was_gap"),
        )
        .orderBy("bucket_hour", "event_type")
    )


@register(
    "events_ewma_fixedpoint",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             CAST(floor(max_by(value, event_id) * 1000000) AS BIGINT) AS micro
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, bucket_hour,
             coalesce(lag(micro, 0) OVER w * 64, 0)
           + coalesce(lag(micro, 1) OVER w * 32, 0)
           + coalesce(lag(micro, 2) OVER w * 16, 0)
           + coalesce(lag(micro, 3) OVER w * 8, 0)
           + coalesce(lag(micro, 4) OVER w * 4, 0)
           + coalesce(lag(micro, 5) OVER w * 2, 0)
           + coalesce(lag(micro, 6) OVER w * 1, 0) AS num,
             (CASE WHEN lag(micro, 0) OVER w IS NOT NULL THEN 64 ELSE 0 END)
           + (CASE WHEN lag(micro, 1) OVER w IS NOT NULL THEN 32 ELSE 0 END)
           + (CASE WHEN lag(micro, 2) OVER w IS NOT NULL THEN 16 ELSE 0 END)
           + (CASE WHEN lag(micro, 3) OVER w IS NOT NULL THEN 8 ELSE 0 END)
           + (CASE WHEN lag(micro, 4) OVER w IS NOT NULL THEN 4 ELSE 0 END)
           + (CASE WHEN lag(micro, 5) OVER w IS NOT NULL THEN 2 ELSE 0 END)
           + (CASE WHEN lag(micro, 6) OVER w IS NOT NULL THEN 1 ELSE 0 END) AS den
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_hour)
    )
    SELECT event_type, bucket_hour,
           CAST(num AS DOUBLE) / den / 1000000.0 AS ewma
    FROM lagged
    ORDER BY event_type, bucket_hour
    """,
)
def events_ewma_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=1/2, 7-tap) per event
    type over the hourly series — smoothing for monitoring/anomaly
    baselines. EWMA is order-recursive, which floats make
    engine-divergent (windowed double sums associate differently per
    engine), so the kernel is FIXED-POINT: observations truncate to
    integer micro-units (floor ×1e6 — repo threshold rule), the 7
    power-of-two weights (64…1) make numerator and denominator exact
    BIGINTs, and the one double division at the end is engine-exact.
    Warm-up rows renormalize over the taps actually present.

    Scale: the raw stream collapses to the (type × hour) aggregate
    first; the lag chain is one window over that frame, partitioned by
    type — 7 taps cost 7 lags in a single window pass, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_hour")
    ).agg(
        F.floor(F.max_by("value", "event_id") * 1000000)
        .cast("long")
        .alias("micro")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket_hour")
    num = None
    den = None
    for k in range(7):
        wgt = 1 << (6 - k)
        tap = F.lag("micro", k).over(w)
        n_k = F.coalesce(tap * wgt, F.lit(0))
        d_k = F.when(tap.isNotNull(), F.lit(wgt)).otherwise(F.lit(0))
        num = n_k if num is None else num + n_k
        den = d_k if den is None else den + d_k
    return (
        hourly.select(
            "event_type",
            "bucket_hour",
            (num.cast("double") / den / F.lit(1000000.0)).alias("ewma"),
        )
        .orderBy("event_type", "bucket_hour")
    )


@register(
    "events_cusum_changepoint",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nb
      FROM hourly GROUP BY 1
    ),
    cum AS (
      SELECT event_type, h,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS pre,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS i
      FROM hourly
    ),
    s AS (
      SELECT c.event_type, c.h,
             CAST(t.nb * c.pre - c.i * t.total AS BIGINT) AS cusum_scaled,
             t.nb, t.total
      FROM cum c JOIN tot t USING (event_type)
    )
    SELECT event_type, h AS change_hour, cusum_scaled,
           nb AS n_buckets, total AS total_events
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY abs(cusum_scaled) DESC, h) AS rn
          FROM s) z
    WHERE rn = 1 ORDER BY event_type
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative deviation of hourly counts from the per-type mean peaks —
    the classic single-changepoint estimator (argmax |S_i|, Page 1954)
    over each type's hourly rate series. INTEGER-EXACT by construction:
    instead of S_i = prefix_i - i·mean (a float), both engines compute
    the mean-cleared statistic scaled by n_buckets,
    ``n·prefix_i - i·total`` — pure BIGINT arithmetic, same argmax, zero
    float-hash risk.

    Scale: one map-side-combinable hourly aggregation of the raw scan
    (the only pass over the data); every window after that runs on the
    O(hours × types) aggregate — a few thousand rows at ANY corpus size,
    partitioned by event_type so no single-partition global sort exists.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("h")
    s = hourly.select(
        "event_type",
        "h",
        (
            F.count("*").over(wt).cast("long")
            * F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(wo).cast("long") * F.sum("c").over(wt)
        )
        .cast("long")
        .alias("cusum_scaled"),
        F.count("*").over(wt).cast("long").alias("n_buckets"),
        F.sum("c").over(wt).cast("long").alias("total_events"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), "h"
    )
    return (
        s.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            "cusum_scaled",
            "n_buckets",
            "total_events",
        )
        .orderBy("event_type")
    )


@register(
    "events_sliding_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    span AS (
      SELECT unnest(generate_series(date_trunc('day', min(ts)),
                                    date_trunc('day', max(ts)),
                                    INTERVAL 1 DAY)) AS day
      FROM events
    ),
    cover AS (
      SELECT user_id,
             unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day
      FROM ud
    ),
    cnt AS (
      SELECT day, count(DISTINCT user_id) AS u FROM cover GROUP BY day
    )
    SELECT s.day, CAST(coalesce(c.u, 0) AS BIGINT) AS n_users_7d
    FROM span s LEFT JOIN cnt c USING (day)
    ORDER BY s.day
    """,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU-class
    metric that naive SQL cannot window (COUNT(DISTINCT) over a sliding
    RANGE frame is unsupported in both engines, and would be wrong to
    approximate by summing daily distincts). Spark-first rewrite: dedup
    to (user, active-day) once, then each active day COVERS the 7 report
    days it contributes to (a 7-row explode — the classic
    "scatter-to-windows" trick), so the sliding distinct collapses to a
    plain per-day COUNT(DISTINCT) on the covered frame.

    Scale: the (user, day) dedup is the only pass over raw data
    (map-side combinable); the covered frame is 7 × O(users × active
    days) NARROW rows — linear, no self-join, no per-day rescan. The
    day spine is O(span) rows derived from a 1-row min/max aggregate.
    At 100 TB the same shape holds; for 90-day windows use the
    month-chunked variant (cover by month, merge partial HLLs or exact
    sets per chunk) — documented fallback, not needed at window=7.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    span = (
        ev.agg(
            F.date_trunc("day", F.min("ts")).alias("lo"),
            F.date_trunc("day", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
    )
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                "d", F.col("d") + F.expr("INTERVAL 6 DAY"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
    )
    cnt = cover.groupBy("day").agg(
        F.count_distinct("user_id").alias("u")
    )
    return (
        span.join(cnt, "day", "left")
        .select("day", F.coalesce("u", F.lit(0)).cast("long").alias("n_users_7d"))
        .orderBy("day")
    )


@register(
    "events_forecast_seasonal_naive",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    labeled AS (
      SELECT event_type, h, c, extract(hour FROM h) AS hod,
             CASE WHEN h < TIMESTAMP '2024-01-26' THEN 1 ELSE 0 END AS is_train
      FROM hourly
    ),
    train AS (
      SELECT event_type, hod,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_buckets
      FROM labeled WHERE is_train = 1 GROUP BY 1, 2
    )
    SELECT t.event_type, CAST(t.hod AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n_test_buckets,
           CAST(tr.total // tr.n_buckets AS BIGINT) AS forecast,
           CAST(sum(abs(t.c - tr.total // tr.n_buckets)) AS BIGINT) AS sum_abs_err
    FROM (SELECT * FROM labeled WHERE is_train = 0) t
    JOIN train tr USING (event_type, hod)
    GROUP BY t.event_type, t.hod, tr.total, tr.n_buckets
    ORDER BY event_type, hod
    """,
)
def events_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast + backtest: train on the first 25 days,
    forecast each (event type, hour-of-day) as the integer mean of its
    observed train buckets, score on the holdout tail with summed
    absolute error — the baseline every fancier forecaster must beat,
    and the backtest harness shape (train/test split by TIME, never
    random). Forecast and error are pure integers (floor-division mean),
    so the whole evaluation is engine-exact.

    Scale: one map-side-combinable hourly aggregation is the only raw
    pass; train profile and test scoring run on the O(hours × types)
    aggregate, joined on (type, hod) — a 24×5-row broadcast in practice.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    labeled = hourly.select(
        "event_type",
        "h",
        "c",
        F.hour("h").cast("long").alias("hod"),
        (F.col("h") < F.lit("2024-01-26").cast("timestamp")).alias("is_train"),
    )
    train = (
        labeled.filter("is_train")
        .groupBy("event_type", "hod")
        .agg(
            F.sum("c").cast("long").alias("total"),
            F.count("*").cast("long").alias("n_buckets"),
        )
    )
    test = labeled.filter(~F.col("is_train"))
    fc = F.expr("total div n_buckets")
    return (
        test.join(train, ["event_type", "hod"])
        .groupBy("event_type", "hod", "total", "n_buckets")
        .agg(
            F.count("*").cast("long").alias("n_test_buckets"),
            F.sum(F.abs(F.col("c") - fc)).cast("long").alias("sum_abs_err"),
        )
        .select(
            "event_type",
            "hod",
            "n_test_buckets",
            fc.cast("long").alias("forecast"),
            "sum_abs_err",
        )
        .orderBy("event_type", "hod")
    )


@register(
    "events_median_session_duration",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM flagged
    ),
    dur AS (
      SELECT CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS d
      FROM sess GROUP BY user_id, sid
    ),
    ranked AS (
      SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
      FROM dur
    )
    SELECT d AS median_duration_sec, CAST(n AS BIGINT) AS n_sessions
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    eager=True,
)
def events_median_session_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median session duration — the composition of the gap
    sessionizer (30-min inactivity, same boundary logic as
    `events_sessionize_gap`) with the two-pass order-statistic skeleton
    of `agg_median_twopass`: per-session integer durations aggregate
    into a 60-second bucket histogram (map-side combinable, O(range)
    groups), the driver walks O(buckets) counts to locate the k-th
    value's bucket and in-bucket rank, and one probe scan takes that
    bucket's r smallest. No global sort ever happens; the oracle finds
    the same order statistic by direct window rank. Durations are whole
    seconds, so the median is engine-exact. EAGER: the histogram walk
    collects O(buckets) rows at plan-build time.

    Scale: sessionization shares one user-keyed exchange; durations are
    O(sessions); the histogram is O(duration-range/60) regardless of
    session count; the probe touches one bucket.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    dur = sess.groupBy("user_id", "sid").agg(
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("d")
    )
    dur = bounded_cache(dur)
    bucket = F.floor(F.col("d") / 60).cast("long")
    hist = sorted(
        dur.groupBy(bucket.alias("b")).agg(F.count("*").alias("c")).collect(),
        key=lambda r: r["b"],
    )
    n = sum(r["c"] for r in hist)
    k = (n + 1) // 2
    cum = 0
    for r in hist:
        if cum + r["c"] >= k:
            b_star, r_in = r["b"], k - cum
            break
        cum += r["c"]
    probe = (
        dur.filter(bucket == b_star)
        .orderBy("d")
        .limit(r_in)
        .agg(F.max("d").cast("long").alias("median_duration_sec"))
        .select("median_duration_sec", F.lit(n).cast("long").alias("n_sessions"))
    )
    return probe
