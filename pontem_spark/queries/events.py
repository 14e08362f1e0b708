"""Event-stream (batch-over-log) queries: time bucketing, JSON, sessionization.

The `events` table is the stream-shaped fixture (FIXTURES.md §2). These are
the batch forms; `pontem_spark.streaming` holds the Structured Streaming
equivalents (same transformations over readStream).

Precision note: the parquet stores timestamp[ns]; Spark truncates to
microseconds on read while DuckDB keeps nanoseconds, so every oracle first
``date_trunc('microseconds', ts)`` to see the same instants Spark sees.
Timestamps returned to the comparator are formatted as strings so neither
engine's native precision leaks into the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS event_hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "time", "agg"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup (the batch twin of a streaming windowed agg).
    COUNT(DISTINCT) expands to a two-phase partial-distinct plan — still one
    logical pass over the scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("event_hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
    tags=("events", "json"),
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column, JVM-side (no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k_value")).filter(F.col("k_value") >= 50)


@register(
    "q_events_sessionize",
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
        SELECT user_id, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    tags=("events", "session", "window"),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): LAG to flag session
    starts, running SUM to number sessions, then events-per-session. Two
    window passes share ONE shuffle (same partitionBy/orderBy)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select("user_id", "event_id", "ts")
        .withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(wsum).cast("bigint"))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "q_events_user_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN date_trunc('microseconds', ts) END)   AS first_signup,
               min(CASE WHEN event_type = 'purchase' THEN date_trunc('microseconds', ts) END) AS first_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           date_diff('second', first_signup, first_purchase) AS signup_to_purchase_s
    FROM firsts
    WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase > first_signup
    """,
    tags=("events", "funnel", "agg"),
)
def q_events_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: seconds from first signup to first purchase per
    user — conditional aggregation, single shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return (
        ev.groupBy("user_id")
        .agg(first_signup.alias("first_signup"), first_purchase.alias("first_purchase"))
        .filter(
            F.col("first_signup").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup"))
        )
        .select(
            "user_id",
            (F.unix_timestamp("first_purchase") - F.unix_timestamp("first_signup")).alias(
                "signup_to_purchase_s"
            ),
        )
    )


@register(
    "q_events_variant",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 2) AS avg_value
    FROM events
    GROUP BY 1
    """,
    tags=("events", "json", "variant"),
)
def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion the Spark-4 way: ``parse_json`` turns the
    JSON string into a VARIANT column ONCE at the scan, and every downstream
    access is a typed ``try_variant_get`` against the binary-encoded value —
    at scale this replaces re-parsing the JSON text per extraction
    (get_json_object re-tokenizes the string each call; the variant parses
    once and navigates an offset-encoded tree). Aggregation over the typed
    extraction hash-matches DuckDB's native JSON path."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("__v"), "value")
    k = F.try_variant_get(F.col("__v"), "$.k", "bigint")
    from pontem_spark.functions.compat import rnd

    return v.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.avg("value"), 2).alias("avg_value"),
    )


@register(
    "q_events_rfm",
    oracle="""
    WITH per_key AS (
      SELECT user_id,
             MAX(epoch_us(ts)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(CAST(value AS DOUBLE)), 4) AS monetary
      FROM events GROUP BY 1
    ),
    ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events)
    SELECT user_id,
           CAST(FLOOR((r.ref_us - p.last_us) / 86400000000) AS BIGINT)
             AS recency_days,
           frequency, monetary,
           NTILE(5) OVER (ORDER BY
             FLOOR((r.ref_us - p.last_us) / 86400000000) ASC, user_id ASC)
             AS r_score,
           NTILE(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f_score,
           NTILE(5) OVER (ORDER BY monetary DESC, user_id ASC) AS m_score
    FROM per_key p CROSS JOIN ref r
    """,
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM behavioral features with quintile scores
    (operators/timeseries.py::rfm_features): one map-side-combinable
    aggregate carries recency/frequency/monetary, the reference time is a
    broadcast 1-row max, and the three ntile windows run over the
    |users|-row aggregate (total orders with user_id ties, so tile
    boundaries are engine-deterministic) — never over the events."""
    from pontem_spark.operators.timeseries import rfm_features

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return rfm_features(ev, "user_id", "ts", "value", n_tiles=5)


@register(
    "q_events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state
        FROM events
    ), pairs AS (
        SELECT prev_state, event_type AS state,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_state IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_state, state, n_transitions,
           ROUND(n_transitions / CAST(SUM(n_transitions)
                 OVER (PARTITION BY prev_state) AS DOUBLE), 6) AS p
    FROM pairs
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    ONE window shuffle on user_id (ordered by ts with event_id as the
    deterministic tiebreaker), then an S x S count aggregate whose row
    totals come from a window OVER the aggregate — one tree, facts
    scanned once (operators/sequences.py::transition_matrix)."""
    from pontem_spark.operators.sequences import transition_matrix

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return transition_matrix(ev, "user_id", ["ts", "event_id"], "event_type")


@register(
    "q_events_seasonal_anomaly",
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
)
def q_events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Season-relative anomaly gate: each event z-scored against its
    (event_type, hour-of-day) baseline. The baseline is a partial-agg
    groupBy producing |types| x 24 rows broadcast back onto the facts —
    the fact table is never shuffled or sorted, and the threshold
    compares the ROUNDED z so last-ulp engine skew cannot flip a flag
    (operators/profile.py::seasonal_anomalies)."""
    from pontem_spark.operators.profile import seasonal_anomalies

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    ).withColumn("hr", F.hour("ts"))
    return seasonal_anomalies(
        ev, ["event_type", "hr"], "value", ["event_id"], threshold=2.0
    )


@register(
    "q_events_attribution",
    oracle="""
    WITH t AS (
        SELECT user_id AS u, ts AS t_ts, event_id AS t_id, event_type AS touch_type
        FROM events WHERE event_type IN ('click', 'view')
    ), c AS (
        SELECT user_id AS cu, ts AS c_ts, event_id AS c_id,
               CAST(value AS DOUBLE) AS val
        FROM events WHERE event_type = 'purchase'
    ), cand AS (
        SELECT * FROM c JOIN t
          ON t.u = c.cu AND t.t_ts <= c.c_ts
         AND t.t_ts > c.c_ts - INTERVAL 24 HOURS
    ), r AS (
        SELECT *,
            ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY t_ts DESC, t_id DESC) AS rn_last,
            ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY t_ts ASC, t_id ASC) AS rn_first,
            COUNT(*) OVER (PARTITION BY c_id) AS n
        FROM cand
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CASE WHEN rn_first = 1 THEN val ELSE 0.0 END), 4) AS credit_first,
           ROUND(SUM(CASE WHEN rn_last = 1 THEN val ELSE 0.0 END), 4) AS credit_last,
           ROUND(SUM(val / n), 4) AS credit_linear
    FROM r GROUP BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution of purchase value to the click/view
    touches in the preceding 24 h: first/last/linear credit per touch
    type in ONE bounded range join + one window shuffle on conversion id
    (operators/sequences.py::attribution_credits)."""
    from pontem_spark.operators.sequences import attribution_credits

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    convs = ev.filter(F.col("event_type") == "purchase")
    return attribution_credits(
        touches, convs, "user_id", "ts", "event_id", "event_type", "value",
        lookback_hours=24,
    )


@register(
    "q_events_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               CAST(date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) AS DOUBLE) AS gap
        FROM events
    ), g2 AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap, 0.5), 3) AS p50,
           ROUND(quantile_cont(gap, 0.95), 3) AS p95,
           ROUND(quantile_cont(gap, 0.99), 3) AS p99
    FROM g2 GROUP BY 1
    """,
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency report: per-user consecutive-event gaps
    (one lag window on the user key; Spark unix_timestamp diff ==
    DuckDB date_diff('second') — both count whole-second boundaries),
    then exact p50/p95/p99 per event type in one percentile aggregate
    (operators/timeseries.py::interarrival_percentiles)."""
    from pontem_spark.operators.timeseries import interarrival_percentiles

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return interarrival_percentiles(
        ev, "user_id", "event_type", "ts", order_cols=["ts", "event_id"]
    )


@register(
    "q_events_session_metrics",
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
        SELECT user_id, event_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s,
           COUNT(*) = 1 AS is_bounce
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def q_events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level engagement metrics on top of gap-based
    sessionization: events-per-session, wall duration, bounce flag —
    the two window passes share ONE (user, order) shuffle and the
    rollup is a single aggregate; whole-second duration semantics are
    engine-identical (unix diff == date_diff('second'))."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap_s.isNull() | (gap_s > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(wsum).cast("bigint"))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("bigint").alias("duration_s"),
        (F.count(F.lit(1)) == 1).alias("is_bounce"),
    )
