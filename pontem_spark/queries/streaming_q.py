"""Oracle-checked STREAMING queries: each runs a real Structured Streaming
pipeline (file source → watermarked stateful aggregation → memory sink,
drained with availableNow) and returns the final batch result — which must
hash-match the same ANSI SQL any batch engine computes. Streaming
correctness checked by the same gate as everything else.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.queries.oracle_fragments import hist_quantile_oracle as _hist_quantile_oracle
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table
from pontem_spark.streaming import (
    hourly_rollup,
    read_event_stream,
    run_to_memory,
    session_windows,
)


@register(
    "q_stream_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS event_hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "agg"),
)
def q_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour streaming aggregation, drained and compared
    against plain batch SQL — proving the streaming state machinery loses
    and duplicates nothing."""
    result = run_to_memory(hourly_rollup(read_event_stream(spark, sf_dir)), mode="complete")
    return result.select(
        "event_hour", "event_type", "n_events", rnd(F.col("total_value"), 2).alias("total_value")
    )


@register(
    "q_stream_session_windows",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    tags=("streaming", "session", "state"),
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session_window (30-min gap) vs the relational
    LAG/cumsum sessionization in SQL: identical sessions, starts, and
    counts. A strong equivalence — two entirely different algorithms (state
    merge vs window scan) must agree row-for-row."""
    result = run_to_memory(session_windows(read_event_stream(spark, sf_dir)), mode="complete")
    return result.select("user_id", "session_start_us", "n_events")


# Gap-based streaming sessionization matches the batch construction because
# both use the same inactivity-gap >1800s rule on microsecond-truncated
# timestamps. Spark's session_window merges on gap <= 30min boundaries the
# same way the LAG >1800 flag splits them: a gap of exactly 1800s keeps the
# session alive in both formulations? NO — session_window extends the window
# to [ts, ts+gap), so an event at exactly ts+gap starts a NEW session, while
# `> 1800` keeps it. With microsecond timestamps an exact-1800.000000s gap
# does not occur in practice; if this dataset ever produced one, the oracle
# would catch it — which is the point of checking streaming differentially.


@register(
    "q_stream_stream_join",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
        FROM events
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           date_diff('microsecond', c.ts, p.ts) AS delay_us
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOURS
    """,
    tags=("streaming", "join", "state"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-STREAM interval join (click→purchase attribution
    within 4 hours), drained with availableNow and hash-compared against the
    batch interval join — proving the buffered-state matching emits exactly
    the relational join, no more, no less. The time-range condition bounds
    the join state (streaming/events.py::stream_stream_attribution); an
    unbounded-state join shape cannot be expressed through this helper."""
    from pontem_spark.streaming import stream_stream_attribution

    clicks = read_event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = read_event_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = stream_stream_attribution(clicks, purchases)
    return run_to_memory(joined, mode="append")


@register(
    "q_stream_sliding_rollup",
    oracle="""
    WITH e AS (
        SELECT event_type, value,
               date_trunc('hour', ts) AS h
        FROM events
    ), expanded AS (
        SELECT event_type, value, h AS win_start FROM e
        UNION ALL
        SELECT event_type, value, h - INTERVAL 1 HOUR FROM e
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "sliding", "agg"),
)
def q_stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour/1-hour streaming windows vs the relational expansion
    (each event contributes to exactly TWO hop starts: its hour and the
    hour before), proving the overlapping-pane state machinery assigns
    every event to every covering window exactly once."""
    from pontem_spark.streaming.events import sliding_rollup

    result = run_to_memory(
        sliding_rollup(read_event_stream(spark, sf_dir)), mode="complete"
    )
    return result.select(
        "win_start", "event_type", "n_events", rnd(F.col("total_value"), 2).alias("total_value")
    )


@register(
    "q_stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(value) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running stats maintained in grouped state across micro-batches, drained
    with availableNow — the FINAL state per key must hash-match the plain
    batch aggregation. The state is the SAME monoid as the batch
    incremental rollup (operators/incremental.py — n counts non-null
    values, hence COUNT(value) in the oracle; identical on this data).
    Update mode can emit a key once per batch; the final emission is
    selected via max-by-count (n_events is strictly increasing per
    emission), so the check is multi-batch-safe."""
    from pyspark.sql import functions as F

    from pontem_spark.functions.compat import rnd
    from pontem_spark.streaming import read_event_stream, run_to_memory
    from pontem_spark.streaming.stateful import running_user_stats

    emitted = run_to_memory(
        running_user_stats(read_event_stream(spark, sf_dir)), mode="update"
    )
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value", "max_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            rnd(F.col("s.total_value"), 2).alias("total_value"),
            F.col("s.max_value").alias("max_value"),
        )
    )
    return final


@register(
    "q_stream_dedup_daily_users",
    oracle="""
    SELECT event_type,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
    """,
    tags=("streaming", "dedup", "watermark"),
)
def q_stream_dedup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark on user/type/day —
    bounded state) drained with availableNow; the surviving first-arrivals
    aggregate to exactly the batch COUNT(DISTINCT) — only key-determined
    outputs are asserted, since WHICH duplicate survives is arrival order."""
    from pyspark.sql import functions as F

    from pontem_spark.streaming import read_event_stream, run_to_memory
    from pontem_spark.streaming.events import dedup_stream

    stream = read_event_stream(spark, sf_dir).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    deduped = dedup_stream(stream, ["user_id", "event_type", "event_date"])
    emitted = run_to_memory(deduped, mode="append")
    return emitted.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "q_stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    tags=("streaming", "join", "enrich"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM broadcast-joins the
    static customer dimension per micro-batch (stateless — no watermark,
    no join state), then aggregates value by market segment. Drained with
    availableNow and compared against the equivalent batch join — proving
    the streaming join path loses and duplicates nothing."""
    from pontem_spark.functions.compat import rnd
    from pontem_spark.streaming.events import (
        enrich_with_dim,
        read_event_stream,
        run_to_memory,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = read_event_stream(spark, sf_dir)
    enriched = enrich_with_dim(stream, cust, "user_id", "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    result = run_to_memory(agg, mode="complete")
    return result.select(
        "c_mktsegment", "n_events", rnd(F.col("total_value"), 2).alias("total_value")
    )


@register(
    "q_stream_incremental_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total,
           ROUND(SUM(value) / COUNT(value), 2) AS avg,
           ROUND(CASE WHEN COUNT(value) >= 2 THEN SQRT(GREATEST(
               (SUM(value * value) - SUM(value) * SUM(value) / COUNT(value))
               / (COUNT(value) - 1), 0.0)) END, 2) AS sd,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "incremental", "agg", "rollup"),
)
def q_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous incremental rollup, end to end: the events table is
    re-written as THREE parquet files, streamed back with
    ``maxFilesPerTrigger=1`` (so the pipeline provably processes ≥3 real
    micro-batches), and ``foreachBatch`` merges each batch's monoid partial
    into the accumulated state table
    (streaming/events.py::run_incremental_rollup). Read-time stats derive
    from the FINAL state only — the oracle aggregates everything directly,
    so hash-equality proves the batch×streaming composition loses nothing
    regardless of how the rows were sliced into batches.

    Scale shape: per micro-batch the shuffle touches batch rows plus the
    ~|keys|-row state; the temp re-write exists only to manufacture
    multiple files from the single-file test fixture (production streams
    from a landing directory that is already many files)."""
    from pontem_spark.operators.incremental import finalize
    from pontem_spark.streaming.events import run_incremental_rollup

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    tmp = tempfile.mkdtemp(prefix="pontem_stream_inc_")
    try:
        events.repartition(3).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        state, n_batches = run_incremental_rollup(stream, ["event_type"], "value")
        if n_batches < 3:
            raise RuntimeError(
                f"expected >=3 micro-batches, got {n_batches} — the"
                " multi-batch merge path was not exercised"
            )
        # state is localCheckpoint-materialized, so the finalize projection
        # no longer references the temp files — safe to remove them
        return finalize(state, ["event_type"], round_digits=2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q_stream_histogram_quantiles",
    oracle=_hist_quantile_oracle(),
    tags=("streaming", "sketch", "quantile", "incremental"),
)
def q_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quantiles end to end: events re-written as three parquet
    files, streamed back one file per trigger, each micro-batch's histogram
    state merged into the accumulated state via foreachBatch
    (streaming/events.py::run_histogram_rollup). Histogram merge is EXACT,
    so the final p50/p90/p99 hash-match the same direct-build oracle as the
    batch query — proving the streaming composition loses nothing no
    matter how the rows were sliced into batches."""
    import shutil
    import tempfile

    from pontem_spark.operators.sketches import histogram_quantiles
    from pontem_spark.streaming.events import run_histogram_rollup

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    tmp = tempfile.mkdtemp(prefix="pontem_stream_hist_")
    try:
        events.repartition(3).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        state, n_batches = run_histogram_rollup(
            stream, ["event_type"], "value", lo=0.0, hi=640.0, n_bins=32
        )
        if n_batches < 3:
            raise RuntimeError(
                f"expected >=3 micro-batches, got {n_batches} — the"
                " multi-batch merge path was not exercised"
            )
        return histogram_quantiles(
            state,
            ["event_type"],
            {"p50": 0.5, "p90": 0.9, "p99": 0.99},
            lo=0.0,
            hi=640.0,
            n_bins=32,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_TIME_DECAY_ORACLE = """
    WITH ref AS MATERIALIZED (
      SELECT user_id, MAX(epoch_us(ts)) AS ref_us FROM events GROUP BY 1
    ),
    wt AS (
      SELECT e.user_id,
             pow(CAST(2.0 AS DOUBLE),
                 -(CAST(r.ref_us - epoch_us(e.ts) AS DOUBLE) / 1e6)
                  / CAST(86400.0 AS DOUBLE)) AS w,
             e.value AS v
      FROM events e JOIN ref r USING (user_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(w * v), 4) AS decayed_total,
           ROUND(SUM(w * v) / SUM(w), 4) AS decayed_mean
    FROM wt GROUP BY 1
    """


@register("q_stream_time_decay", _TIME_DECAY_ORACLE, tags=("streaming",))
def q_stream_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted rollup as a STREAM: events re-written as three
    files, streamed back one file per trigger, each micro-batch folded
    into the decayed monoid state (streaming/events.py::
    run_decayed_rollup) — exponential decay re-anchors by one
    multiplication, so the stream never rescans history. The oracle
    computes the same statistic in one direct pass over all events:
    hash-equality proves the batch×streaming decomposition is exact
    (up to the shared rounding) no matter how rows were sliced."""
    import tempfile

    from pontem_spark.operators.incremental import finalize_decayed
    from pontem_spark.streaming.events import run_decayed_rollup

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    tmp = tempfile.mkdtemp(prefix="pontem_stream_decay_")
    try:
        events.repartition(3).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        state, n_batches = run_decayed_rollup(stream, "user_id", "ts", "value", 86400.0)
        if n_batches < 3:
            raise RuntimeError(f"expected >=3 micro-batches, got {n_batches}")
        return finalize_decayed(state, "user_id")
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q_stream_seasonal_anomaly",
    oracle="""
    WITH base AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
               CAST(COUNT(value) AS BIGINT) AS n,
               SUM(value) AS s, SUM(value * value) AS ss
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), b2 AS (
        SELECT event_type, hr, n, s / n AS m, ss / n - (s / n) * (s / n) AS varp
        FROM base
    )
    SELECT e.event_id, e.event_type, b.hr, e.value,
           ROUND((e.value - b.m) / sqrt(b.varp), 3) AS z
    FROM events e
    JOIN b2 b ON e.event_type = b.event_type
             AND CAST(EXTRACT(hour FROM e.ts) AS INTEGER) = b.hr
    WHERE e.value IS NOT NULL AND b.n >= 5 AND b.varp > 1e-12
      AND abs(ROUND((e.value - b.m) / sqrt(b.varp), 3)) >= 2.0
    """,
    tags=("streaming",),
)
def q_stream_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming x seasonal-baseline composition: the (event_type, hour)
    moment state accumulates across >= 3 real micro-batches
    (foreachBatch + the mergeable monoid), finalizes to the batch
    operator's exact baseline, and broadcast-gates the events. The
    oracle is the PLAIN BATCH query — hash-equality proves the
    composition is lossless however rows were sliced into batches
    (streaming/events.py::run_seasonal_anomaly)."""
    import tempfile

    from pontem_spark.streaming.events import run_seasonal_anomaly

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    ).withColumn("hr", F.hour("ts"))
    tmp = tempfile.mkdtemp(prefix="pontem_stream_season_")
    try:
        ev.select("event_type", "hr", "value").repartition(3).write.mode(
            "overwrite"
        ).parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        out, n_batches = run_seasonal_anomaly(
            stream, ["event_type", "hr"], "value", ev, ["event_id"], threshold=2.0
        )
        if n_batches < 3:
            raise RuntimeError(f"expected >= 3 micro-batches, got {n_batches}")
        # state is localCheckpoint-materialized; safe to return after cleanup
        return out.localCheckpoint(eager=True)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q_stream_ks_drift",
    oracle="""
    WITH ref AS (
        SELECT CAST(LEAST(FLOOR(CAST(value AS DOUBLE) / 20.0), 19) AS INTEGER) AS bucket,
               COUNT(*) AS nr
        FROM events WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'
        GROUP BY 1
    ), live AS (
        SELECT CAST(LEAST(FLOOR(CAST(value AS DOUBLE) / 20.0), 19) AS INTEGER) AS bucket,
               COUNT(*) AS nl
        FROM events WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'
        GROUP BY 1
    ), both_b AS (
        SELECT COALESCE(r.bucket, l.bucket) AS bucket,
               COALESCE(nr, 0) AS nr, COALESCE(nl, 0) AS nl
        FROM ref r FULL OUTER JOIN live l ON r.bucket = l.bucket
    ), cums AS (
        SELECT bucket,
            SUM(nr) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cr,
            SUM(nl) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cl,
            SUM(nr) OVER () AS tr, SUM(nl) OVER () AS tl
        FROM both_b
    )
    SELECT ROUND(abs(CAST(cr AS DOUBLE) / CAST(tr AS DOUBLE)
                     - CAST(cl AS DOUBLE) / CAST(tl AS DOUBLE)), 6) AS ks_stat,
           CAST(bucket AS INTEGER) AS ks_bucket,
           CAST(tr AS BIGINT) AS n_ref, CAST(tl AS BIGINT) AS n_live
    FROM cums ORDER BY 1 DESC, 2 ASC LIMIT 1
    """,
    tags=("streaming",),
)
def q_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitor: pre-cut events are the static reference
    histogram, post-cut events stream in >= 3 micro-batches into a
    per-bin count monoid, and the binned KS folds over <= 20 rows of
    integer cumulatives (bit-identical cross-engine). The oracle is the
    plain two-slice batch KS — hash-equality proves the streamed
    histogram equals the batch one under any slicing
    (streaming/events.py::run_binned_drift)."""
    import shutil
    import tempfile

    from pontem_spark.streaming.events import run_binned_drift

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ev.filter(F.col("ts") < cut).select("value")
    live = ev.filter(F.col("ts") >= cut).select("value")
    tmp = tempfile.mkdtemp(prefix="pontem_stream_ks_")
    try:
        live.repartition(3).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        out, n_batches = run_binned_drift(
            stream, ref, "value", bin_width=20.0, n_bins=20
        )
        if n_batches < 3:
            raise RuntimeError(f"expected >= 3 micro-batches, got {n_batches}")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
