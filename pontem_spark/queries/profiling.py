"""Data-profiling queries: null statistics, outliers, drift (PSI, KS),
mutual information, skew, Benford, concentration and ABC analysis."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_profile_null_stats",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_event_type,
               COUNT(DISTINCT event_type) AS nd_event_type,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_user_id,
               COUNT(DISTINCT user_id) AS nd_user_id,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_value,
               COUNT(DISTINCT value) AS nd_value,
               CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_props,
               COUNT(DISTINCT props) AS nd_props
        FROM events
    )
    SELECT 'event_type' AS column_name, n AS n_rows, nn_event_type AS n_nulls, nd_event_type AS n_distinct FROM s
    UNION ALL SELECT 'user_id', n, nn_user_id, nd_user_id FROM s
    UNION ALL SELECT 'value', n, nn_value, nd_value FROM s
    UNION ALL SELECT 'props', n, nn_props, nd_props FROM s
    """,
    tags=("profiling", "quality"),
)
def q_profile_null_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile of the events table: per-column null count and
    exact cardinality, ALL columns in ONE aggregation pass, fanned out to
    per-column rows by a constant-size unpivot."""
    from pontem_spark.operators.profile import profile_columns

    events = load_table(spark, sf_dir, "events")
    return profile_columns(events, ["event_type", "user_id", "value", "props"])


@register(
    "q_zscore_outliers",
    oracle="""
    WITH s AS (
        SELECT AVG(o_totalprice) AS mu, stddev_pop(o_totalprice) AS sigma FROM orders
    )
    SELECT o_orderkey, ROUND((o_totalprice - mu) / sigma, 2) AS zscore
    FROM orders, s
    WHERE abs(ROUND((o_totalprice - mu) / sigma, 2)) > 1.5
    """,
    tags=("profiling", "outliers"),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly gate: orders whose total price is >1.5 population
    std-devs from the mean. One scalar aggregate broadcast back over the
    scan — no global window funneling everything through one partition."""
    from pontem_spark.operators.profile import zscore_outliers

    orders = load_table(spark, sf_dir, "orders")
    return zscore_outliers(orders, "o_totalprice", ["o_orderkey"], threshold=1.5, round_digits=2)


@register(
    "q_profile_psi_drift",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(LEAST(FLOOR(value / 60.0), 9) AS INTEGER) AS bin,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS ref,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS cur
        FROM events GROUP BY 1, 2
    ), t AS (
        SELECT event_type, SUM(ref) AS tref, SUM(cur) AS tcur FROM b GROUP BY 1
    )
    SELECT b.event_type,
           ROUND(SUM(
               (GREATEST(COALESCE(b.ref * 1.0 / t.tref, 0.0), 1e-6)
                - GREATEST(COALESCE(b.cur * 1.0 / t.tcur, 0.0), 1e-6))
               * LN(GREATEST(COALESCE(b.ref * 1.0 / t.tref, 0.0), 1e-6)
                    / GREATEST(COALESCE(b.cur * 1.0 / t.tcur, 0.0), 1e-6))
           ), 4) AS psi
    FROM b JOIN t ON b.event_type = t.event_type
    GROUP BY 1
    """,
    tags=("profile", "drift", "psi", "data-quality"),
)
def q_profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution, first half of
    January (reference) vs second half (current), per event type — the
    standard production drift monitor. One scan, conditional sums for both
    slices in a single aggregation, fixed literal bin edges so both engines
    bin identically (operators/profile.py::population_stability)."""
    from pontem_spark.operators.profile import population_stability

    ev = load_table(spark, sf_dir, "events")
    return population_stability(
        ev,
        "value",
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        group_cols=["event_type"],
    )


@register(
    "q_profile_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS x,
             coalesce(CAST(source AS VARCHAR), '__null__') AS y,
             COUNT(*) AS nxy
      FROM documents GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, nxy,
             SUM(nxy) OVER (PARTITION BY x) AS nx,
             SUM(nxy) OVER (PARTITION BY y) AS ny,
             SUM(nxy) OVER () AS n
      FROM cells
    ),
    agg AS (
      SELECT MAX(n) AS n,
             SUM((nxy / CAST(n AS DOUBLE))
                 * ln((nxy / CAST(n AS DOUBLE))
                      / ((nx / CAST(n AS DOUBLE)) * (ny / CAST(n AS DOUBLE))))) AS mi,
             SUM((nxy - CAST(nx AS DOUBLE) * ny / CAST(n AS DOUBLE))
                 * (nxy - CAST(nx AS DOUBLE) * ny / CAST(n AS DOUBLE))
                 / (CAST(nx AS DOUBLE) * ny / CAST(n AS DOUBLE))) AS chi2,
             -SUM(((nx / CAST(n AS DOUBLE)) * ln(nx / CAST(n AS DOUBLE)))
                  * (nxy / CAST(nx AS DOUBLE))) AS hx,
             -SUM(((ny / CAST(n AS DOUBLE)) * ln(ny / CAST(n AS DOUBLE)))
                  * (nxy / CAST(ny AS DOUBLE))) AS hy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(mi, 6) AS mi_nats,
           CASE WHEN hx > 0 AND hy > 0
                THEN ROUND(mi / sqrt(hx * hy), 6) END AS nmi,
           ROUND(chi2, 6) AS chi2
    FROM agg
    """,
    tags=("profile", "association", "mutual-information"),
)
def q_profile_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information / normalized MI / chi-squared between lang and
    source — the two-column association screen beside PSI's one-column
    drift screen, from ONE contingency-table pass with windowed marginals
    (operators/profile.py::categorical_association)."""
    from pontem_spark.operators.profile import categorical_association

    docs = load_table(spark, sf_dir, "documents")
    return categorical_association(docs, "lang", "source")


@register(
    "q_profile_trend_fit",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2
    ), s AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(CAST(day AS DOUBLE)) AS sx,
               SUM(CAST(n_orders AS DOUBLE)) AS sy,
               SUM(CAST(day AS DOUBLE) * CAST(n_orders AS DOUBLE)) AS sxy,
               SUM(CAST(day AS DOUBLE) * CAST(day AS DOUBLE)) AS sxx,
               SUM(CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)) AS syy
        FROM daily GROUP BY 1
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n * sxx - sx * sx <> 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
           ROUND(CASE WHEN n * sxx - sx * sx <> 0
                      THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6) AS intercept,
           ROUND(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <> 0
                      THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2
    FROM s
    """,
)
def q_profile_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of daily order volume — ONE
    sufficient-statistics aggregation then closed-form algebra
    (operators/profile.py::grouped_linear_trend). Day index and daily
    count are integers, so every sum is exactly representable and the
    mirrored float expression order makes both engines bit-agree before
    rounding."""
    from pontem_spark.operators.profile import grouped_linear_trend

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return grouped_linear_trend(daily, ["o_orderpriority"], "day", "n_orders")


@register(
    "q_profile_skew_report",
    oracle="""
    WITH counts AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS key, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ),
    totals AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
             COUNT(*) AS distinct_keys
      FROM counts
    ),
    top AS (
      SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rank
      FROM counts QUALIFY rank <= 10
    )
    SELECT t.rank, t.key, CAST(t.cnt AS BIGINT) AS cnt,
           ROUND(t.cnt / s.total, 6) AS share,
           ROUND(SUM(t.cnt) OVER (ORDER BY t.rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / s.total,
                 6) AS cum_share,
           CAST(s.distinct_keys AS BIGINT) AS distinct_keys
    FROM top t CROSS JOIN totals s
    """,
)
def q_profile_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key report for lineitem's supplier key — the 'do I need
    salting?' pre-check (operators/profile.py::skew_report): one
    map-side-combinable count aggregate, broadcast totals, TakeOrdered
    top-10 with share and cumulative share; the cumulative window runs
    over the 10 surviving rows, never |keys|."""
    from pontem_spark.operators.profile import skew_report

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    return skew_report(li, "l_suppkey", top_n=10)


@register(
    "q_profile_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.event_id, CAST(e.value AS DOUBLE) AS value,
             ABS(CAST(e.value AS DOUBLE) - m.med) AS d, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type, d.event_id, d.value,
           ROUND(CAST(0.6745 AS DOUBLE) * (d.value - d.med) / a.mad, 4) AS robust_z
    FROM dev d JOIN mad a USING (event_type)
    WHERE a.mad > 0
      AND ABS(ROUND(CAST(0.6745 AS DOUBLE) * (d.value - d.med) / a.mad, 4))
          > CAST(3.5 AS DOUBLE)
    """,
)
def q_profile_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers per event type by median absolute deviation
    (operators/profile.py::mad_outliers, modified z > 3.5): two exact-
    percentile aggregates + broadcast joins — no window, no global sort;
    the stddev-based gate hides heavy-tail outliers exactly where this
    doesn't (50% breakdown point). Spark percentile == DuckDB
    quantile_cont (the established exact-interpolation pair)."""
    from pontem_spark.operators.profile import mad_outliers

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return mad_outliers(ev, "event_type", "event_id", "value", threshold=3.5)


def _ks_oracle() -> str:
    from pontem_spark.operators.binning import equal_width_bins_oracle_sql

    cte, bucket = equal_width_bins_oracle_sql("u", "__v", bins=64)
    return f"""
    WITH u AS (
        SELECT CAST(value AS DOUBLE) AS __v, 0 AS __is_b
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        UNION ALL
        SELECT CAST(value AS DOUBLE), 1
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ), {cte}, counts AS (
        SELECT {bucket} AS bucket, SUM(1 - __is_b) AS na, SUM(__is_b) AS nb
        FROM u, edges GROUP BY 1
    ), cums AS (
        SELECT bucket,
            SUM(na) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ca,
            SUM(nb) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cb,
            SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb
        FROM counts
    )
    SELECT ROUND(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                     - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)), 6) AS ks_stat,
           CAST(bucket AS INTEGER) AS ks_bucket
    FROM cums ORDER BY 1 DESC, 2 ASC LIMIT 1
    """


@register("q_profile_ks_drift", _ks_oracle())
def q_profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS between purchase and click value
    distributions: shared 64-bin equal-width grid (one broadcast min/max
    edge row), map-side bucketing, then CDF windows over 64 rows only.
    Integer-count cumulatives make the statistic bit-identical across
    engines (operators/profile.py::ks_two_sample)."""
    from pontem_spark.operators.profile import ks_two_sample

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    a = ev.filter(F.col("event_type") == "purchase").select("value")
    b = ev.filter(F.col("event_type") == "click").select("value")
    return ks_two_sample(a, b, "value", bins=64)


@register(
    "q_profile_benford",
    oracle="""
    WITH base AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(ABS(CAST(o_totalprice AS DOUBLE)))
                                     AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
        WHERE o_totalprice IS NOT NULL
          AND FLOOR(ABS(CAST(o_totalprice AS DOUBLE))) >= 1
    ), counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1
    ), tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT digit, n,
           ROUND(n / CAST(t AS DOUBLE), 6) AS obs_share,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected_share
    FROM counts, tot
    """,
)
def q_profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals: string-based digit
    extraction from the floored integer part (zero float freedom — no
    log10-mantissa boundary risk), one groupBy to 9 rows, broadcast
    total (operators/profile.py::benford_profile)."""
    from pontem_spark.operators.profile import benford_profile

    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    return benford_profile(orders, "o_totalprice")


@register(
    "q_profile_concentration",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DOUBLE)) AS x
        FROM orders GROUP BY 1
    ), r AS (
        SELECT k, x, ROW_NUMBER() OVER (ORDER BY x DESC, k DESC) AS j FROM per
    ), one AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS tot,
               SUM(j * x) AS sjx, SUM(x * x) AS sxx,
               SUM(CASE WHEN j = 1 THEN x ELSE 0.0 END) AS t1,
               SUM(CASE WHEN j <= 10 THEN x ELSE 0.0 END) AS tn
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_keys,
           ROUND((2.0 * ((n + 1.0) * tot - sjx)) / (n * tot) - (n + 1.0) / n, 6) AS gini,
           ROUND(sxx / (tot * tot), 6) AS hhi,
           ROUND(t1 / tot, 6) AS top1_share,
           ROUND(tn / tot, 6) AS top10_share
    FROM one
    """,
)
def q_profile_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration: Gini + HHI + top-1/top-10 shares
    in one |keys|-row rank window and one 1-row aggregate (the
    descending-rank identity avoids a second ranking pass)
    (operators/profile.py::concentration_report)."""
    from pontem_spark.operators.profile import concentration_report

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return concentration_report(orders, "o_custkey", "o_totalprice", top_n=10)


@register(
    "q_profile_abc",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DOUBLE)) AS x
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT k, x,
               ROUND(SUM(x) OVER (ORDER BY x DESC, k DESC ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW)
                     / SUM(x) OVER (), 6) AS cum_share,
               ROUND(x / SUM(x) OVER (), 6) AS share,
               ROUND(x, 6) AS value_sum
        FROM per
    )
    SELECT k AS o_custkey, value_sum, share, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS tier
    FROM ranked
    """,
)
def q_profile_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto tiering of customers by revenue: one |keys|
    aggregate, one descending rank window with cumulative + total sums
    in the same frame; tier boundaries compare the ROUNDED cumulative
    share (operators/profile.py::abc_classification)."""
    from pontem_spark.operators.profile import abc_classification

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return abc_classification(orders, "o_custkey", "o_totalprice")
