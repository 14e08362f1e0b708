"""Time-series queries: resampling, gap filling, asfreq, time decay,
change-point detection, autocorrelation and rolling correlation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_ts_resample_gapfill",
    oracle="""
    WITH f AS (
        SELECT event_type,
               to_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT)
                            - CAST(FLOOR(epoch(ts)) AS BIGINT) % 21600) AS bt,
               value
        FROM events WHERE value >= 195
    ), agg AS (
        SELECT event_type, bt, COUNT(value) AS n, ROUND(AVG(value), 2) AS avg_value
        FROM f GROUP BY 1, 2
    ), span AS (
        SELECT event_type, MIN(bt) AS lo, MAX(bt) AS hi FROM agg GROUP BY 1
    ), grid AS (
        SELECT event_type,
               UNNEST(generate_series(lo, hi, INTERVAL 21600 SECONDS)) AS bt
        FROM span
    ), j AS (
        SELECT g.event_type, g.bt, COALESCE(a.n, 0) AS n, a.avg_value
        FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.bt = g.bt
    )
    SELECT event_type,
           strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket,
           n, avg_value,
           LAST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_filled
    FROM j
    """,
    tags=("timeseries", "resample", "gapfill", "window"),
)
def q_ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``resample('6H').mean()`` with explicit gap rows and forward fill —
    the pandas time-series idiom re-expressed as three scale-safe pieces
    (operators/timeseries.py): epoch-floor bucket + one-pass agg (the only
    scan of the input), a |groups|-row span aggregate EXPLODED into the full
    interval grid (never rescans events), and a ``last(ignorenulls)`` window
    for the fill. The >=195 value filter makes the series sparse enough that
    real gaps exist at every SF, so the left-join null path and the fill are
    both exercised, not just compiled."""
    from pyspark.sql import functions as F

    from pontem_spark.functions.compat import rnd
    from pontem_spark.operators.timeseries import forward_fill, gap_fill, resample

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 195)
    res = resample(ev, "ts", "value", ["event_type"], 21600)
    filled = gap_fill(res, ["event_type"], "bucket_ts", 21600)
    filled = filled.withColumn("avg_value", rnd(F.col("avg_value"), 2)).withColumn(
        "avg_filled", F.col("avg_value")
    )
    filled = forward_fill(filled, ["event_type"], "bucket_ts", ["avg_filled"])
    return filled.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n",
        "avg_value",
        "avg_filled",
    )


@register(
    "q_ts_time_decay",
    oracle="""
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
    """,
)
def q_ts_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential time-decay aggregate (halflife 1 day, aged
    from each user's own latest event — operators/timeseries.py::
    time_decay_agg): the irregular-timestamp complement of ewm, two
    map-side-combinable aggregates and no window/sort. Weights computed in
    double space from unix_micros ages; oracle replays with epoch_us and
    every literal cast to DOUBLE."""
    from pontem_spark.operators.timeseries import time_decay_agg

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return time_decay_agg(ev, "user_id", "ts", "value", halflife_s=86400.0)


@register(
    "q_ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS pos,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    ), base AS (
        SELECT event_type, pos, v,
               SUM(v) OVER (PARTITION BY event_type) AS s,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ), cum AS (
        SELECT event_type, pos, n,
               ROUND(SUM(v - s / n) OVER (PARTITION BY event_type ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS r
        FROM base
    ), pick AS (
        SELECT event_type, pos, r, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY abs(r) DESC, pos ASC) AS rn
        FROM cum
    )
    SELECT event_type, pos AS cp_at, r AS cusum, CAST(n AS BIGINT) AS n_points
    FROM pick WHERE rn = 1
    """,
)
def q_ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM level-shift detection over daily value
    totals: mean and running deviation sum share one key-partitioned
    exchange; the argmax is a map-side-combinable struct-max on the
    ROUNDED cusum (operators/timeseries.py::cusum_changepoints)."""
    from pontem_spark.operators.timeseries import cusum_changepoints

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(F.sum("value").alias("daily_value"))
    return cusum_changepoints(daily, "event_type", "day_idx", "daily_value").select(
        "event_type",
        F.col("cp_at").cast("bigint").alias("cp_at"),
        "cusum",
        "n_points",
    )


def _acf_oracle(max_lag: int = 5) -> str:
    lag_cols = ",\n               ".join(
        f"LAG(v, {i}) OVER (PARTITION BY event_type ORDER BY pos) AS y{i}"
        for i in range(1, max_lag + 1)
    )
    moments = []
    for i in range(1, max_lag + 1):
        moments.append(
            f"COUNT(CASE WHEN y{i} IS NOT NULL THEN 1 END) AS n{i},\n"
            f"           SUM(CASE WHEN y{i} IS NOT NULL THEN x END) AS sx{i},\n"
            f"           SUM(y{i}) AS sy{i},\n"
            f"           SUM(CASE WHEN y{i} IS NOT NULL THEN x * x END) AS sxx{i},\n"
            f"           SUM(y{i} * y{i}) AS syy{i},\n"
            f"           SUM(CASE WHEN y{i} IS NOT NULL THEN x * y{i} END) AS sxy{i}"
        )
    selects = []
    for i in range(1, max_lag + 1):
        n = f"CAST(n{i} AS DOUBLE)"
        cov = f"(sxy{i} / {n} - (sx{i} / {n}) * (sy{i} / {n}))"
        vx = f"(sxx{i} / {n} - (sx{i} / {n}) * (sx{i} / {n}))"
        vy = f"(syy{i} / {n} - (sy{i} / {n}) * (sy{i} / {n}))"
        selects.append(
            f"SELECT k AS event_type, {i} AS lag,\n"
            f"       CASE WHEN n{i} >= 3 AND {vx} > 1e-12 AND {vy} > 1e-12\n"
            f"            THEN ROUND({cov} / sqrt({vx} * {vy}), 4) END AS acf\n"
            f"FROM g"
        )
    return f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS pos,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    ), lagged AS (
        SELECT event_type AS k, v AS x,
               {lag_cols}
        FROM daily
    ), g AS (
        SELECT k,
           {",".join(moments)}
        FROM lagged GROUP BY k
    )
    {" UNION ALL ".join(selects)}
    """


@register("q_ts_acf", _acf_oracle())
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation table (lags 1-5) over daily value
    totals: all lag columns share ONE window sort, all 30 Pearson
    moments fold in ONE aggregate, unpivoted by a constant-size explode
    (operators/timeseries.py::acf_table)."""
    from pontem_spark.operators.timeseries import acf_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "day_idx"
        ),
    ).agg(F.sum("value").alias("daily_value"))
    out = acf_table(daily, "event_type", "day_idx", "daily_value", max_lag=5)
    return out.select("event_type", F.col("lag").cast("int").alias("lag"), "acf")


@register(
    "q_ts_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS pos,
               CAST(COUNT(*) AS DOUBLE) AS x, SUM(value) AS y
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT event_type, pos,
               CAST(COUNT(*) OVER w AS DOUBLE) AS n,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
               SUM(x * y) OVER w AS sxy
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY pos
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, pos AS day_idx,
           CASE WHEN n >= 3
                 AND (sxx / n - (sx / n) * (sx / n)) > 1e-12
                 AND (syy / n - (sy / n) * (sy / n)) > 1e-12
                THEN ROUND((sxy / n - (sx / n) * (sy / n))
                           / sqrt((sxx / n - (sx / n) * (sx / n))
                                  * (syy / n - (sy / n) * (sy / n))), 4)
           END AS rolling_corr
    FROM r
    """,
)
def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between daily event volume and
    daily value total per event type — all six moment sums ride ONE
    trailing window frame (one exchange + one sort total)
    (operators/timeseries.py::rolling_correlation)."""
    from pontem_spark.operators.timeseries import rolling_correlation

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        F.sum("value").alias("y"),
    )
    out = rolling_correlation(daily, "event_type", "day_idx", "x", "y", window_rows=7)
    return out.select("event_type", "day_idx", "rolling_corr")


@register(
    "q_ts_series_resample",
    oracle="""
    WITH b AS MATERIALIZED (
        SELECT CAST(FLOOR(epoch(date_trunc('day', MIN(ts)))) AS BIGINT) AS a,
               CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS mn,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS mx
        FROM events
    ), freqs AS (
        SELECT * FROM (VALUES ('6h', 21600), ('7h', 25200)) AS t(freq, sec)
    ), bounds AS MATERIALIZED (
        SELECT f.freq, f.sec, b.a,
               b.a + (b.mn - b.a) - (b.mn - b.a) % f.sec AS lo,
               b.a + (b.mx - b.a) - (b.mx - b.a) % f.sec AS hi
        FROM freqs f CROSS JOIN b
    ), ev AS MATERIALIZED (
        SELECT bo.freq,
               bo.a + (CAST(FLOOR(epoch(e.ts)) AS BIGINT) - bo.a)
                    - (CAST(FLOOR(epoch(e.ts)) AS BIGINT) - bo.a) % bo.sec
                   AS bsec,
               e.value
        FROM events e CROSS JOIN bounds bo
    ), aggd AS MATERIALIZED (
        SELECT freq, bsec,
               CAST(COUNT(value) AS BIGINT) AS n,
               AVG(value) AS av
        FROM ev GROUP BY 1, 2
    ), grid AS (
        SELECT bo.freq, UNNEST(generate_series(bo.lo, bo.hi, bo.sec)) AS bsec
        FROM bounds bo
    )
    SELECT g.freq,
           strftime(make_timestamp(g.bsec * 1000000), '%Y-%m-%d %H:%M:%S')
               AS bucket,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
           ROUND(a.av, 2) AS avg_value
    FROM grid g
    LEFT JOIN aggd a ON g.freq = a.freq AND g.bsec = a.bsec
    """,
)
def q_ts_series_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.resample through the wrapper — driver evidence for the
    pandas-complete grid (empty buckets present: count 0, mean NULL) and
    the origin='start_day' anchor. '6h' divides a day (anchor-invariant);
    '7h' does not — its buckets land on midnight-of-first-day multiples,
    so an epoch-floor implementation on either side hash-mismatches. The
    grid itself is a broadcast 1-row bounds frame + sequence explode
    (core/window.py::resample) — never a driver-side date_range."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    s = from_spark(ev).set_index("ts")["value"]
    parts = []
    for rule in ("6h", "7h"):
        n = s.resample(rule).count().to_spark(value_name="n_events")
        avg = s.resample(rule).mean().to_spark(value_name="avg_value")
        j = n.join(avg, "ts")
        parts.append(
            j.select(
                F.lit(rule).alias("freq"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                F.col("n_events").cast("bigint").alias("n_events"),
                rnd(F.col("avg_value"), 2).alias("avg_value"),
            )
        )
    return parts[0].unionByName(parts[1])


@register(
    "q_ts_asfreq",
    oracle="""
    WITH ev AS MATERIALIZED (
        SELECT date_trunc('second', ts) AS ts, AVG(value) AS v
        FROM events GROUP BY 1
    ), b AS MATERIALIZED (
        SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS mn,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS mx
        FROM ev
    ), grid AS MATERIALIZED (
        SELECT UNNEST(generate_series(b.mn, b.mx, 5400)) AS g FROM b
    ), evs AS MATERIALIZED (
        SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, v FROM ev
    ), fwd AS (
        SELECT g.g, e.v FROM grid g ASOF LEFT JOIN evs e ON g.g >= e.es
    )
    SELECT strftime(make_timestamp(x.g * 1000000), '%Y-%m-%d %H:%M:%S')
               AS bucket,
           ROUND(e.v, 2) AS v_exact,
           ROUND(f.v, 2) AS v_ffill
    FROM grid x
    LEFT JOIN evs e ON x.g = e.es
    LEFT JOIN fwd f ON x.g = f.g
    """,
)
def q_ts_asfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.asfreq through the wrapper — driver evidence for the r10
    asfreq surface (core/window.py::asfreq): the grid anchors at the
    FIRST observation (index[0], NOT start_day — the anchor that
    distinguishes asfreq from resample cross-engine), v_exact takes
    values at exact grid timestamps only, v_ffill fills positionally
    (the oracle replays it as a DuckDB ASOF join). '90min' doesn't
    divide the first-observation offset, so an epoch- or
    midnight-anchored grid on either side hash-mismatches. Events are
    second-truncated first: sub-second timestamps never land on a
    whole-second grid."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("second", F.col("ts")).alias("ts"), "value"
    )
    per_ts = ev.groupBy("ts").agg(F.avg("value").alias("v"))
    s = from_spark(per_ts).set_index("ts")["v"]
    exact = s.asfreq("90min").to_spark(value_name="v_exact")
    fwd = s.asfreq("90min", method="ffill").to_spark(value_name="v_ffill")
    j = exact.join(fwd, "ts")
    return j.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        rnd(F.col("v_exact"), 2).alias("v_exact"),
        rnd(F.col("v_ffill"), 2).alias("v_ffill"),
    )
