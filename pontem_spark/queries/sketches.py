"""Mergeable-sketch queries: HyperLogLog distinct counts, histogram
quantiles and count-min frequencies, each emitting engine-portable derived
outputs the oracle can check exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.oracle_fragments import hist_quantile_oracle as _hist_quantile_oracle
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_sketch_hll_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           1 AS est_ok, 1 AS merge_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("sketch", "hll", "approx", "incremental"),
)
def q_sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type WITHOUT rescanning history: per-day
    HLL sketch states (operators/sketches.py::hll_rollup) union-merged up
    to event_type — the mergeable distinct-count pattern exact
    COUNT(DISTINCT) cannot express.

    The sketch blob and its estimate are engine-specific, so the emitted
    columns are the ones any engine must agree on: the exact twin, plus
    two in-plan booleans — ``est_ok`` (the merged-sketch estimate lands
    within 3x the published ~1.6% relative error at lgk=12 of the exact
    count) and ``merge_ok`` (the per-day build→union path estimates
    EXACTLY what a direct one-pass build estimates: HLL union is the set
    union, so any merge tree must agree). The oracle computes the exact
    twin and asserts both booleans as literal 1s — a drifting estimate or
    a merge-order-sensitive state on either engine hash-mismatches.
    (The exact twin is the proof harness; production runs only the
    mergeable sketch path — that is the point.)"""
    from pontem_spark.operators.sketches import estimate, hll_rollup, rollup_over

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = hll_rollup(ev, ["event_type", "day"], "user_id")
    merged = estimate(rollup_over(daily, ["event_type"]), ["event_type"])
    direct = estimate(hll_rollup(ev, ["event_type"], "user_id"), ["event_type"]).select(
        "event_type", F.col("n_distinct_est").alias("__direct_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    tol = 3 * 0.016  # 3x the ~1.6% relative standard error at lgk=12
    return (
        merged.join(direct, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("n_distinct_est") - F.col("exact_users"))
                <= tol * F.col("exact_users")
            )
            .cast("int")
            .alias("est_ok"),
            (F.col("n_distinct_est") == F.col("__direct_est")).cast("int").alias("merge_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "q_sketch_histogram_quantiles",
    oracle=_hist_quantile_oracle(),
    tags=("sketch", "quantile", "incremental", "mergeable"),
)
def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles via fixed-bin histogram states — the
    exactly-checkable sketch: per-(event_type, day) count arrays are built,
    split into two frames, key-wise MERGED back (in-row fold over collected
    blobs), and p50/p90/p99 finalized read-time by deterministic
    integer-rank interpolation (operators/sketches.py). Because histogram
    merge is exact, the oracle rebuilds the state directly from raw rows
    and every interpolated double must hash-match — proving the whole
    build → merge → finalize pipeline, which HLL's probabilistic estimates
    never could."""
    from pontem_spark.operators.sketches import (
        histogram_quantiles,
        histogram_state,
        merge_histograms,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = histogram_state(
        events, ["event_type", "day"], "value", lo=0.0, hi=640.0, n_bins=32
    )
    even = daily.filter(F.dayofmonth("day") % 2 == 0)
    odd = daily.filter(F.dayofmonth("day") % 2 == 1)
    merged = merge_histograms(even, odd, ["event_type"], n_bins=32)
    return histogram_quantiles(
        merged,
        ["event_type"],
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        lo=0.0,
        hi=640.0,
        n_bins=32,
    )


@register(
    "q_sketch_cms_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt_exact,
           TRUE AS over_ok,
           TRUE AS bound_ok
    FROM events GROUP BY event_type
    """,
)
def q_sketch_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates with derived deterministic
    outputs (the q_sketch_hll_users pattern): the estimate itself is
    xxhash64-bucketed and so engine-specific, but the CMS guarantees —
    est >= exact always, est <= exact + eps*N (eps = e/width) — are
    computed IN-PLAN as booleans the oracle can hash-match. The state is
    built in two halves and merged, so the green row also certifies merge
    associativity (operators/sketches.py::cms_state/cms_merge/cms_estimate)."""
    from pontem_spark.operators.sketches import cms_estimate, cms_merge, cms_state

    ev = load_table(spark, sf_dir, "events")
    a = cms_state(ev.filter(F.col("event_id") % 2 == 0), "event_type")
    b = cms_state(ev.filter(F.col("event_id") % 2 == 1), "event_type")
    state = cms_merge(a, b)
    est = cms_estimate(state, ev, "event_type")
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt_exact"))
    n_total = ev.agg(F.count(F.lit(1)).alias("__n"))
    eps = 2.718281828459045 / 1024
    return (
        exact.join(est, "event_type")
        .crossJoin(F.broadcast(n_total))
        .select(
            "event_type",
            "cnt_exact",
            (F.col("cnt_est") >= F.col("cnt_exact")).alias("over_ok"),
            (
                F.col("cnt_est")
                <= F.col("cnt_exact") + F.floor(F.lit(eps) * F.col("__n"))
            ).alias("bound_ok"),
        )
    )
