"""Business-analytics queries over the TPC-H and events tables: A/B test
readouts, market-basket rules, cohort retention, survival curves and
target encoding. Each is oracle-checked like every other query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY 1
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
               AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "cohort", "retention", "agg"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (long form): users cohorted by first-seen
    week, counted per week offset they were active. Two aggregates over one
    events scan branch each — the firsts aggregate shuffles ~|users| rows
    (map-side partial min), activity is a distinct projection, and the join
    is user-keyed so both sides co-partition; no window, no cross join."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    firsts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = ev.distinct().withColumnRenamed("week", "active_week")
    return (
        activity.join(firsts, on="user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_basket_association_rules",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ), ic AS (
        SELECT item, COUNT(*) AS n_item FROM bi GROUP BY item
    ), nb AS (
        SELECT COUNT(DISTINCT basket) AS n FROM bi
    ), pc AS (
        SELECT x.item AS a, y.item AS b, COUNT(*) AS pair_n
        FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
        GROUP BY 1, 2
    ), freq AS (
        SELECT a, b, pair_n FROM pc, nb
        WHERE CAST(pair_n AS DOUBLE) >= n / 64.0
    ), dir AS (
        SELECT a AS antecedent, b AS consequent, pair_n FROM freq
        UNION ALL
        SELECT b AS antecedent, a AS consequent, pair_n FROM freq
    )
    SELECT d.antecedent, d.consequent, CAST(d.pair_n AS BIGINT) AS pair_n,
           ROUND(d.pair_n / CAST(nb.n AS DOUBLE), 6) AS support,
           ROUND(d.pair_n / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
           ROUND((d.pair_n * CAST(nb.n AS DOUBLE))
                 / (ia.n_item * CAST(ib.n_item AS DOUBLE)), 6) AS lift
    FROM dir d
    CROSS JOIN nb
    JOIN ic ia ON ia.item = d.antecedent
    JOIN ic ib ON ib.item = d.consequent
    """,
)
def q_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level market-basket rules over order baskets: which part
    brands co-occur in the same order beyond chance. Apriori broadcast
    prefilter → ONE basket shuffle → map-side array pair expansion (no
    fact self-join; the oracle's quadratic self-join is the semantics
    being proven, not the plan). min_support = 1/64 exactly (binary-
    representable, so the threshold compare is engine-identical).
    The 64-item basket cap never binds here (≤ 25 brands exist), so the
    capless oracle is equivalent at every SF (operators/basket.py).
    """
    from pontem_spark.operators.basket import association_rules

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    facts = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    return association_rules(facts, "basket", "item", min_support=1.0 / 64.0)


def _ab_oracle() -> str:
    from pontem_spark.operators.sampling import hash_bucket_sql

    grp = f"CASE WHEN ({hash_bucket_sql('user_id', 2)}) = 0 THEN 'A' ELSE 'B' END"
    return f"""
    WITH u AS (
        SELECT user_id,
               COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END), 0.0) AS pre,
               COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END), 0.0) AS post,
               {grp} AS grp
        FROM events GROUP BY user_id
    ), g AS (
        SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(pre) AS sx, SUM(post) AS sy,
               SUM(pre * pre) AS sxx, SUM(post * post) AS syy,
               SUM(pre * post) AS sxy
        FROM u GROUP BY grp
    ), one AS (
        SELECT
            MAX(CASE WHEN grp = 'A' THEN n END) AS n_a,
            MAX(CASE WHEN grp = 'A' THEN sx END) AS sx_a,
            MAX(CASE WHEN grp = 'A' THEN sy END) AS sy_a,
            MAX(CASE WHEN grp = 'A' THEN sxx END) AS sxx_a,
            MAX(CASE WHEN grp = 'A' THEN syy END) AS syy_a,
            MAX(CASE WHEN grp = 'A' THEN sxy END) AS sxy_a,
            MAX(CASE WHEN grp = 'B' THEN n END) AS n_b,
            MAX(CASE WHEN grp = 'B' THEN sx END) AS sx_b,
            MAX(CASE WHEN grp = 'B' THEN sy END) AS sy_b,
            MAX(CASE WHEN grp = 'B' THEN sxx END) AS sxx_b,
            MAX(CASE WHEN grp = 'B' THEN syy END) AS syy_b,
            MAX(CASE WHEN grp = 'B' THEN sxy END) AS sxy_b
        FROM g
    ), d AS (
        SELECT *,
            n_a + n_b AS n_t,
            sx_a + sx_b AS sx_t, sy_a + sy_b AS sy_t,
            sxx_a + sxx_b AS sxx_t, syy_a + syy_b AS syy_t,
            sxy_a + sxy_b AS sxy_t
        FROM one
    ), d2 AS (
        SELECT *,
            sxy_t / n_t - (sx_t / n_t) * (sy_t / n_t) AS cov_t,
            sxx_t / n_t - (sx_t / n_t) * (sx_t / n_t) AS varx_t,
            syy_t / n_t - (sy_t / n_t) * (sy_t / n_t) AS vary_t
        FROM d
    ), d3 AS (
        SELECT *, cov_t / varx_t AS theta FROM d2
    ), d4 AS (
        SELECT *,
            sx_a / n_a AS mx_a, sy_a / n_a AS my_a,
            sx_b / n_b AS mx_b, sy_b / n_b AS my_b
        FROM d3
    ), d5 AS (
        SELECT *,
            (sxx_a - n_a * mx_a * mx_a) / (n_a - 1.0) AS vx_a,
            (syy_a - n_a * my_a * my_a) / (n_a - 1.0) AS vy_a,
            (sxy_a - n_a * mx_a * my_a) / (n_a - 1.0) AS cxy_a,
            (sxx_b - n_b * mx_b * mx_b) / (n_b - 1.0) AS vx_b,
            (syy_b - n_b * my_b * my_b) / (n_b - 1.0) AS vy_b,
            (sxy_b - n_b * mx_b * my_b) / (n_b - 1.0) AS cxy_b
        FROM d4
    ), d6 AS (
        SELECT *,
            my_a - theta * (mx_a - sx_t / n_t) AS madj_a,
            vy_a - 2.0 * theta * cxy_a + theta * theta * vx_a AS vadj_a,
            my_b - theta * (mx_b - sx_t / n_t) AS madj_b,
            vy_b - 2.0 * theta * cxy_b + theta * theta * vx_b AS vadj_b
        FROM d5
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(my_a, 4) AS mean_post_a, ROUND(my_b, 4) AS mean_post_b,
           ROUND((my_a - my_b) / sqrt(vy_a / n_a + vy_b / n_b), 4) AS t_post,
           ROUND(((vy_a / n_a + vy_b / n_b) * (vy_a / n_a + vy_b / n_b))
                 / ((vy_a / n_a) * (vy_a / n_a) / (n_a - 1.0)
                    + (vy_b / n_b) * (vy_b / n_b) / (n_b - 1.0)), 4) AS dof_post,
           ROUND(theta, 4) AS theta,
           ROUND((madj_a - madj_b) / sqrt(vadj_a / n_a + vadj_b / n_b), 4) AS t_cuped,
           ROUND(((vadj_a / n_a + vadj_b / n_b) * (vadj_a / n_a + vadj_b / n_b))
                 / ((vadj_a / n_a) * (vadj_a / n_a) / (n_a - 1.0)
                    + (vadj_b / n_b) * (vadj_b / n_b) / (n_b - 1.0)), 4) AS dof_cuped,
           ROUND((cov_t * cov_t) / (varx_t * vary_t), 4) AS var_reduction
    FROM d6
    """


@register("q_abtest_welch_cuped", _ab_oracle())
def q_abtest_welch_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over events: users hash-split into two arms
    (engine-portable md5 bucket), pre/post per-user metric sums around a
    mid-window cut, then Welch's t on the raw metric, pooled-OLS CUPED
    theta, Welch's t on the adjusted metric, and the rho-squared variance
    reduction — ONE unit-rollup shuffle, one 2-row moment aggregate, zero
    second passes (operators/abtest.py::ab_report)."""
    from pontem_spark.operators.abtest import ab_report
    from pontem_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cut = F.lit("2024-01-16").cast("timestamp")
    units = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, F.col("value"))), F.lit(0.0)).alias("pre"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, F.col("value"))), F.lit(0.0)).alias("post"),
    ).withColumn(
        "grp", F.when(hash_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B"))
    )
    return ab_report(units, "grp", "pre", "post")


@register(
    "q_survival_repeat_order",
    oracle="""
    WITH f AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS t0
        FROM orders GROUP BY 1
    ), s AS (
        SELECT f.o_custkey, f.t0, MIN(CAST(o.o_orderdate AS DATE)) AS t1
        FROM f LEFT JOIN orders o
          ON o.o_custkey = f.o_custkey AND CAST(o.o_orderdate AS DATE) > f.t0
        GROUP BY 1, 2
    ), subj AS (
        SELECT o_custkey,
               CASE WHEN t1 IS NOT NULL AND date_diff('day', t0, t1) <= 365
                    THEN 1 ELSE 0 END AS ev,
               CAST(FLOOR((CASE WHEN t1 IS NOT NULL AND date_diff('day', t0, t1) <= 365
                                THEN date_diff('day', t0, t1) ELSE 365 END) / 30.0)
                    AS BIGINT) * 30 AS t_days
        FROM s
    ), pt AS (
        SELECT t_days, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY 1
    ), n AS (SELECT COUNT(*) AS N FROM subj),
    r AS (
        SELECT t_days, d, c,
               CAST(N - COALESCE(SUM(d + c) OVER (ORDER BY t_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS at_risk
        FROM pt, n
    ), r2 AS (
        SELECT *,
               CASE WHEN MAX(CASE WHEN d = at_risk THEN 1 ELSE 0 END)
                         OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) = 1
                    THEN 0.0
                    ELSE exp(SUM(ln(CASE WHEN d < at_risk
                                         THEN 1.0 - d / CAST(at_risk AS DOUBLE)
                                         ELSE 1.0 END))
                             OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW))
               END AS surv
        FROM r
    )
    SELECT t_days, at_risk, d AS events, ROUND(surv, 4) AS survival
    FROM r2 WHERE d > 0
    """,
)
def q_survival_repeat_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention: days from each customer's FIRST order to
    their SECOND (distinct-date) order, right-censored at a 365-day
    horizon, bucketed to 30-day intervals. The subject rollup is ONE
    shuffle of orders (sorted distinct order-date arrays per customer);
    everything after runs over <= 13 time-bucket rows. The d = n
    boundary is routed around ln(0) on both engines
    (operators/survival.py::kaplan_meier)."""
    from pontem_spark.operators.survival import kaplan_meier

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    per_cust = orders.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set(F.col("o_orderdate").cast("date"))).alias("__dates")
    )
    dd = F.datediff(
        F.try_element_at(F.col("__dates"), F.lit(2)), F.element_at(F.col("__dates"), 1)
    )
    subj = per_cust.select(
        F.when(dd.isNotNull() & (dd <= 365), F.lit(1)).otherwise(F.lit(0)).alias("ev"),
        (
            F.floor(
                F.when(dd.isNotNull() & (dd <= 365), dd).otherwise(F.lit(365)) / F.lit(30.0)
            )
            * 30
        ).alias("t_days"),
    )
    return kaplan_meier(subj, "t_days", "ev")


@register(
    "q_abtest_mann_whitney",
    oracle="""
    WITH u AS (
        SELECT CAST(value AS DOUBLE) AS v, 0 AS is_b
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        UNION ALL
        SELECT CAST(value AS DOUBLE), 1
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ), byv AS (
        SELECT v, SUM(1 - is_b) AS na, SUM(is_b) AS nb FROM u GROUP BY v
    ), r AS (
        SELECT na, nb, na + nb AS t,
               CAST(COALESCE(SUM(na + nb) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
               + (CAST(na + nb AS DOUBLE) + 1.0) / 2.0 AS rk
        FROM byv
    ), one AS (
        SELECT CAST(SUM(na) AS DOUBLE) AS n_a, CAST(SUM(nb) AS DOUBLE) AS n_b,
               SUM(na * rk) AS ra,
               CAST(SUM(t * t * t - t) AS DOUBLE) AS ties
        FROM r
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ra - n_a * (n_a + 1.0) / 2.0 AS u_a,
           ROUND(((ra - n_a * (n_a + 1.0) / 2.0) - n_a * n_b / 2.0)
                 / sqrt((n_a * n_b / 12.0)
                        * (((n_a + n_b) + 1.0)
                           - ties / ((n_a + n_b) * ((n_a + n_b) - 1.0)))), 4) AS z
    FROM one
    """,
)
def q_abtest_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between purchase and click values: ranks computed
    over DISTINCT values (one groupBy + one window over the aggregate),
    U exact cross-engine (integer/half ranks), tie-corrected normal z
    rounded (operators/abtest.py::mann_whitney_u)."""
    from pontem_spark.operators.abtest import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("value")
    b = ev.filter(F.col("event_type") == "click").select("value")
    return mann_whitney_u(a, b, "value")


@register(
    "q_feature_target_encoding",
    oracle="""
    WITH cats AS (
        SELECT o_orderpriority AS c, CAST(COUNT(o_totalprice) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DOUBLE)) AS s
        FROM orders GROUP BY 1
    ), g AS (
        SELECT c, n, s, SUM(s) OVER () / SUM(n) OVER () AS gm FROM cats
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(CASE WHEN n - 1 + 10.0 > 0
                      THEN (s - CAST(o.o_totalprice AS DOUBLE) + 10.0 * gm)
                           / (n - 1 + 10.0)
                      ELSE gm END, 6) AS encoded
    FROM orders o JOIN g ON g.c = o.o_orderpriority
    """,
)
def q_feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of order priority
    against order value (smoothing=10 pseudo-observations): one
    |categories|-row aggregate whose global mean derives from ITSELF
    (no second fact scan), broadcast back — facts never shuffle
    (operators/curation.py::target_encode_loo)."""
    from pontem_spark.operators.curation import target_encode_loo

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return target_encode_loo(
        orders, "o_orderpriority", "o_totalprice", ["o_orderkey"], smoothing=10.0
    )
