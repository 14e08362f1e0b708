"""Plan-shape assertions: the engine's scale properties as CI checks.

Every claim the operator docstrings make about pushdown, pruning,
broadcasting, shuffle-sharing, and top-k execution is asserted here against
the actual physical plan — a plan regression fails this file long before it
becomes a cluster incident.
"""

from __future__ import annotations

import pytest

from pontem_spark.plans import (
    count_exchanges,
    has_node,
    physical_plan,
    pushed_filters,
    read_schema_columns,
)
from pontem_spark.queries.registry import all_queries

_Q = all_queries()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name):
        return _Q[name].fn(spark, sf_dir)

    return build


def test_q6_filters_push_into_scan(q):
    pushed = " ".join(pushed_filters(q("q6_forecast_revenue")))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed into parquet scan: {pushed}"


def test_q6_scan_prunes_columns(q):
    schemas = read_schema_columns(q("q6_forecast_revenue"))
    assert schemas, "no scan found"
    # lineitem has 11 columns; the query needs only 4
    assert all(len(cols) <= 4 for cols in schemas), schemas


def test_q1_scan_prunes_columns(q):
    schemas = read_schema_columns(q("q1_pricing_summary"))
    assert all(len(cols) <= 7 for cols in schemas), schemas


def test_q1_single_shuffle(q):
    # one grouping shuffle; AQE may add nothing else
    assert count_exchanges(q("q1_pricing_summary")) == 1


def test_q5_broadcasts_fixed_dims(q):
    plan = physical_plan(q("q5_local_supplier_volume"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q10_broadcasts_nation(q):
    assert has_node(q("q10_returned_items"), "BroadcastExchange")


def test_q3_topk_is_take_ordered(q):
    assert has_node(q("q3_shipping_priority"), "TakeOrderedAndProject")


def test_semi_anti_join_nodes(q):
    assert "LeftSemi" in physical_plan(q("q_semi_join_big_spenders"))
    assert "LeftAnti" in physical_plan(q("q_anti_join_quiet_customers"))


def test_sessionize_shares_one_window_shuffle(q):
    # LAG and running-SUM use the same (partitionBy, orderBy) → one shuffle
    # for both window passes, plus one for the final groupBy
    n = count_exchanges(q("q_events_sessionize"))
    assert n <= 2, f"expected <=2 shuffles (shared window sort + agg), got {n}"


def test_segment_stats_single_agg_pass(q):
    # five statistics batched into ONE aggregation (no extra shuffles)
    plan = physical_plan(q("q_segment_order_stats"))
    assert plan.count("HashAggregate") <= 4  # partial+final (+AQE variants)


def test_text_stats_no_shuffle(q):
    # pure projection query: zero exchanges beyond possible AQE reads
    assert count_exchanges(q("q_text_token_stats")) == 0


def test_no_python_udfs_in_relational_queries(q):
    """Core relational/text queries must stay wholly JVM-side: no
    BatchEvalPython / ArrowEvalPython nodes (SURVEY §4 anti-pattern list)."""
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q_text_token_stats",
        "q_text_lang_id",
        "q_dedup_exact",
        "q_window_order_rank",
    ):
        plan = physical_plan(q(name))
        assert "EvalPython" not in plan, f"{name} fell back to Python: {plan[:500]}"


def test_q7_date_range_pushes_to_scan(q):
    pushed = " ".join(pushed_filters(q("q7_volume_shipping")))
    assert "l_shipdate" in pushed, pushed


def test_q8_dimensions_broadcast(q):
    plan = physical_plan(q("q8_market_share"))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan  # European-customer filter is a semi join


def test_q2_broadcasts_suppliers_and_part(q):
    assert has_node(q("q2_min_cost_supplier"), "BroadcastExchange")


def test_q20_nested_in_becomes_semi_joins(q):
    plan = physical_plan(q("q20_part_promotion_suppliers"))
    assert plan.count("LeftSemi") >= 2, plan[:800]


def test_q21_exists_shapes(q):
    plan = physical_plan(q("q21_waiting_supplier"))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q17_stays_jvm_side(q):
    plan = physical_plan(q("q17_small_quantity_revenue"))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # brand part keys broadcast into lineitem


def test_api_wrapper_emits_plain_plan(q):
    """The pandas-like layer must compile to the same plan shapes as raw
    DataFrame code: filters pushed, no UDFs, no extra shuffles."""
    df = q("q_api_column_expression")
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed
    assert count_exchanges(df) == 0


def test_ivf_assign_cells_is_map_side(spark, sf_dir):
    """Cell assignment must be scan → project → generate: the per-row argmin
    over driver-materialized centroids introduces NO Exchange — the first
    shuffle in IVF is the probe-side top-k window, never the assignment."""
    from pontem_spark.operators.ivf import assign_cells, label_centroids
    from pontem_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "vec_id", "embedding", "label", 64).collect()
    cells = assign_cells(emb, cents, "vec_id", "embedding", 64, n_probe=3)
    assert count_exchanges(cells) == 0, physical_plan(cells)


def test_stratified_sample_filter_reaches_scan(q):
    # the md5-bucket filter is plain scan-level work: no Exchange at all
    assert count_exchanges(q("q_stratified_sample")) == 0


def test_profile_is_single_agg_pass(q):
    # ONE scan pass: Catalyst plans multi-count-distinct as Expand →
    # partial-dedup agg → key shuffle → final single-partition gather.
    # Two exchanges total (both over pre-aggregated data), never a second
    # scan of the input, and no join of per-column subqueries.
    plan = physical_plan(q("q_profile_null_stats"))
    assert plan.count("Scan ") <= 1, "profile must not rescan the input per column"
    assert "Join" not in plan, "profile must not join per-column subqueries"
    n = count_exchanges(q("q_profile_null_stats"))
    assert n <= 2, f"profile should be expand+gather, got {n} exchanges"


def test_latest_by_key_is_aggregate_not_window(q):
    plan = physical_plan(q("q_latest_order_per_customer"))
    assert "Window" not in plan, "compaction must be max(struct) agg, not a window"
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_zscore_broadcasts_scalar_stats(q):
    # the 1-row stats frame reaches the data side via broadcast, and the
    # value column never shuffles
    plan = physical_plan(q("q_zscore_outliers"))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_melt_explode_are_map_side_generates(q):
    """Reshaping promotions (round 5): melt == one stack() Generate and
    explode == one explode Generate, both with ZERO Exchange — wide-to-long
    must never shuffle."""
    for name in ("q_api_melt_lineitem", "q_api_explode_tokens"):
        df = q(name)
        plan = physical_plan(df)
        assert "Generate" in plan, name
        assert count_exchanges(df) == 0, name


def test_grouped_transform_single_window_shuffle(q):
    """groupby().transform through the wrapper: exactly one Exchange (the
    window's key shuffle) and no join-back."""
    df = q("q_api_grouped_transform")
    assert count_exchanges(df) == 1
    assert "Join" not in physical_plan(df)


def test_round6b_queries_stay_jvm_side(q):
    """This session's batch queries must not fall back to Python execution
    (the only sanctioned Python in the engine is Arrow BLAS + streaming
    state, none of which these use)."""
    for name in (
        "q_curation_boilerplate_removal",
        "q_sketch_histogram_quantiles",
        "q_api_rank",
        "q_sample_weighted",
        "q_dedup_jaccard_prefix",
        "q_dedup_containment",
        "q_profile_mutual_info",
        "q_embedding_dim_profile",
        "q_api_grouped_qcut",
        "q_pipeline_corpus_prep",
    ):
        plan = physical_plan(q(name))
        assert "EvalPython" not in plan, f"{name} fell back to Python: {plan[:500]}"


def test_weighted_sample_query_is_take_ordered_per_stratum(q):
    """The stratified race is one window shuffle — no global sort of raw
    rows, no cartesian."""
    plan = physical_plan(q("q_sample_weighted"))
    assert "CartesianProduct" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_pipeline_query_single_composed_plan(q):
    """The end-to-end corpus-prep chain stays ONE lazy plan with only its
    stages' own shuffles (chunk agg + md5 dedup agg) — no extra exchanges
    from the composition itself, no Python, no cartesian beyond the 1-row
    boilerplate broadcast."""
    df = q("q_pipeline_corpus_prep")
    plan = physical_plan(df)
    assert "EvalPython" not in plan
    # chunk df-agg pair (2) + single-partition collect (1) + dedup agg (1)
    # + remove_boilerplate's deliberate ensure_parallelism rebalance (r14:
    # the single-file corpus scans as ONE partition, so the chunk explode +
    # dfreq partial agg and the map-side rebuild ran single-core; the narrow
    # rebalance is a no-op on healthy multi-split input)
    assert count_exchanges(df) <= 6, plan[:800]


def test_filtered_ann_pushes_label_predicate(q):
    """The metadata predicate of filtered vector search must reach the
    parquet scan — scoring work is then proportional to the filtered
    subset, not the corpus."""
    pushed = " ".join(pushed_filters(q("q_ann_filtered_topk")))
    assert "label" in pushed, pushed


# ---- round-7 operator plan shapes ----------------------------------------


def test_group_split_no_exchange(spark, sf_dir):
    """group_split is a pure map-side projection: zero shuffles."""
    from pontem_spark.operators.sampling import group_split
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    out = group_split(ev, "user_id", {"train": 80, "val": 10, "test": 10})
    assert count_exchanges(out) == 0


def test_bm25_filters_before_aggregation(spark, sf_dir):
    """The query-term filter must sit below the tf aggregate so only
    query-term postings shuffle, and the top-k must be a
    TakeOrderedAndProject, never a global Sort."""
    from pontem_spark.operators.textstats import bm25_topk
    from pontem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = bm25_topk(docs, "doc_id", "text", ["spark", "join", "vector"], k=10)
    plan = physical_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    # the term filter is a Filter on the exploded term, below the first agg
    agg_pos = plan.index("HashAggregate")
    assert "Filter" in plan[agg_pos:], "term filter not below the aggregate"


def test_skew_report_takeordered(spark, sf_dir):
    """Top-N heavy keys via TakeOrderedAndProject (per-partition top-k +
    k-row merge), never a global sort of |keys|."""
    from pontem_spark.operators.profile import skew_report
    from pontem_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    plan = physical_plan(skew_report(li, "l_suppkey", top_n=10))
    assert "TakeOrderedAndProject" in plan, plan


def test_time_decay_two_aggregates_no_window(spark, sf_dir):
    """time_decay_agg is two groupBys joined — no Window node anywhere
    (a window form would sort every key's events)."""
    from pontem_spark.operators.timeseries import time_decay_agg
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    plan = physical_plan(time_decay_agg(ev, "user_id", "ts", "value", 86400.0))
    assert "Window" not in plan, plan


def test_rrf_never_scans_corpus(spark):
    """rrf_fuse touches only the candidate lists: its plan is union + one
    aggregate + TakeOrderedAndProject over the inputs it was given."""
    from pontem_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rank"])
    plan = physical_plan(rrf_fuse([a, b]))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Union" in plan, plan


def test_mad_outliers_broadcast_stats(spark, sf_dir):
    """Per-group median/MAD tables join back via broadcast — no sort-merge
    join of the events against the stats."""
    from pontem_spark.operators.profile import mad_outliers
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    plan = physical_plan(mad_outliers(ev, "event_type", "event_id", "value"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_frame_rolling_single_sort(spark):
    """Frame rolling over 3 columns must plan exactly ONE Sort (the shared
    window), not one per column."""
    from pontem_spark.core import DataFrame as PFrame

    df = PFrame({"a": [1.0, 2.0], "b": [3.0, 4.0], "c": [5.0, 6.0]}, spark=spark)
    plan = physical_plan(df.rolling(2).mean().to_spark())
    assert plan.count("Sort ") <= 1 or plan.count("[Sort") <= 1, plan


def test_frame_ffill_single_window(spark):
    from pontem_spark.core import DataFrame as PFrame

    df = PFrame({"a": [1.0, None], "b": [None, 4.0]}, spark=spark)
    plan = physical_plan(df.ffill().to_spark())
    assert plan.count("Window") <= 2, plan  # one Window node (+AQE echo)


def test_association_rules_no_fact_self_join(spark, sf_dir):
    """Pair expansion is a map-side array transform after ONE basket
    shuffle — the plan must contain no sort-merge join and no cartesian
    product; the apriori prune and metric denominators enter as
    broadcast hash joins."""
    from pontem_spark.operators.basket import association_rules
    from pontem_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    out = association_rules(li, "l_orderkey", "l_partkey", min_support=1.0 / 64.0)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_transition_matrix_single_fact_scan(spark, sf_dir):
    """One tree: the facts are scanned ONCE and the row-normalization is
    a window over the S x S aggregate — no join node, no second
    derivation of the lag pipeline (the agg+join diamond would re-run
    scan + window per branch)."""
    from pontem_spark.operators.sequences import transition_matrix
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    plan = physical_plan(transition_matrix(ev, "user_id", ["ts", "event_id"], "event_type"))
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan


def test_attribution_single_candidate_window_shuffle(spark, sf_dir):
    """The three per-conversion window functions (rank-first, rank-last,
    count) must share ONE exchange on the conversion id, and the range
    join must not degrade to a cartesian product."""
    from pontem_spark.operators.sequences import attribution_credits
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(ev.event_type.isin("click", "view"))
    convs = ev.filter(ev.event_type == "purchase")
    out = attribution_credits(
        touches, convs, "user_id", "ts", "event_id", "event_type", "value"
    )
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("hashpartitioning(__c_id") == 1, plan


def test_ab_report_no_joins_no_windows(spark, sf_dir):
    """The whole A/B readout is aggregation-only: unit rollup, 2-row arm
    moments, 1-row pivot — no join or window node anywhere."""
    from pontem_spark.operators.abtest import ab_report
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    units = ev.groupBy("user_id").agg(
        __import__("pyspark.sql.functions", fromlist=["x"]).sum("value").alias("post")
    )
    units = units.withColumn("pre", units.post * 0.5).withColumn(
        "grp",
        __import__("pyspark.sql.functions", fromlist=["x"]).when(
            units.user_id % 2 == 0, "A"
        ).otherwise("B"),
    )
    plan = physical_plan(ab_report(units, "grp", "pre", "post"))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_seasonal_anomalies_facts_never_shuffle(spark, sf_dir):
    """The baseline is broadcast back onto the facts: no Window, no
    sort-merge join — the fact side stays map-side."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.profile import seasonal_anomalies
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    ).withColumn("hr", F.hour("ts"))
    out = seasonal_anomalies(ev, ["event_type", "hr"], "value", ["event_id"])
    plan = physical_plan(out)
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ks_two_sample_takeordered_over_bins(spark, sf_dir):
    """The argmax over bins is a TakeOrderedAndProject (limit 1), and the
    only joins are the broadcast 1-row edge frame."""
    from pontem_spark.operators.profile import ks_two_sample
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(ev.event_type == "purchase").select("value")
    b = ev.filter(ev.event_type == "click").select("value")
    plan = physical_plan(ks_two_sample(a, b, "value", bins=16))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_benford_scan_prunes_to_one_column(spark, sf_dir):
    """Benford reads exactly the profiled column, exactly once (share
    denominator is a window over the 9-row aggregate, not a second
    scan), and joins nothing."""
    from pontem_spark.operators.profile import benford_profile
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    out = benford_profile(orders, "o_totalprice")
    plan = physical_plan(out)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    schemas = read_schema_columns(out)
    assert schemas and all(len(cols) <= 1 for cols in schemas), schemas


def test_kaplan_meier_subject_rollup_only_fact_shuffle(spark, sf_dir):
    """All window work runs post-aggregation over |time buckets| rows;
    the subject table contributes one aggregate, never a sort."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.survival import kaplan_meier
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    subj = orders.groupBy("o_custkey").agg(
        F.lit(1).alias("ev"), F.lit(30).alias("t_days")
    )
    plan = physical_plan(kaplan_meier(subj.select("ev", "t_days"), "t_days", "ev"))
    assert "Join" not in plan, plan
    # the caller's subject rollup must run once, not once per branch
    assert plan.count("FileScan") == 1, plan


def test_scd2_single_key_exchange(spark, sf_dir):
    """Version-compression (lag) and interval stitching (lead) must share
    one hash exchange on the key — the filter between them preserves
    partitioning."""
    from pontem_spark.operators.sequences import scd2_intervals
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus"
    )
    out = scd2_intervals(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"], ["o_orderstatus"]
    )
    plan = physical_plan(out)
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1, plan
    assert "Join" not in plan, plan


def test_concentration_single_tree(spark, sf_dir):
    """One keys-row rank window, one final aggregate, zero joins, one
    fact scan."""
    from pontem_spark.operators.profile import concentration_report
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    plan = physical_plan(
        concentration_report(orders, "o_custkey", "o_totalprice", top_n=10)
    )
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan


def test_cusum_shares_one_key_exchange(spark, sf_dir):
    """Whole-partition mean, running CUSUM, and the struct-max argmax all
    run off ONE exchange on the key; the argmax is an aggregate, not a
    rank window."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.timeseries import cusum_changepoints
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(F.sum("value").alias("v"))
    out = cusum_changepoints(daily, "event_type", "d", "v")
    plan = physical_plan(out)
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_mann_whitney_ranks_over_distincts(spark, sf_dir):
    """Rank arithmetic must run over the distinct-value aggregate (one
    groupBy then windows over it) — no join, one scan per sample side."""
    from pontem_spark.operators.abtest import mann_whitney_u
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(ev.event_type == "purchase").select("value")
    b = ev.filter(ev.event_type == "click").select("value")
    plan = physical_plan(mann_whitney_u(a, b, "value"))
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 2, plan  # the two sample sides


def test_snapshot_diff_single_join_hash_payload(spark, sf_dir):
    """One full-outer join on the key; both sides reduce to (key, hash)
    projections before the shuffle (no second join, no window)."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.reconcile import snapshot_diff
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    new = orders.filter(F.col("o_orderkey") % 101 != 0)
    plan = physical_plan(
        snapshot_diff(old, new, ["o_orderkey"], ["o_custkey", "o_orderstatus"])
    )
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1, plan
    assert "Window" not in plan, plan


def test_acf_single_window_sort_single_agg(spark, sf_dir):
    """All five lag columns come from one window sort; all 30 moments
    fold in one aggregate — exactly one Sort node over the facts and no
    join."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.timeseries import acf_table
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(F.sum("value").alias("v"))
    plan = physical_plan(acf_table(daily, "event_type", "d", "v", max_lag=5))
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Window") == 1, plan


def test_pq_code_assignment_is_map_side(spark, sf_dir):
    """PQ code assignment must be scan -> project (argmin folds over
    codebook literals): zero exchanges, like IVF assign_cells."""
    from pontem_spark.operators.pq import pq_assign_codes, train_pq_codebooks
    from pontem_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", dim=64, m=4, k=8, sample_pct=30, iters=1
    )
    coded = pq_assign_codes(emb, books, "vec_id", "embedding", 64)
    assert count_exchanges(coded) == 0, physical_plan(coded)


def test_interarrival_single_lag_window(spark, sf_dir):
    """Gaps come from one (key, order) window; percentiles are one
    aggregate — no join, one scan."""
    from pontem_spark.operators.timeseries import interarrival_percentiles
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    plan = physical_plan(
        interarrival_percentiles(ev, "user_id", "event_type", "ts",
                                 order_cols=["ts", "event_id"])
    )
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Window") == 1, plan


def test_rolling_correlation_one_window_frame(spark, sf_dir):
    """All six moment sums share one window (one Sort, one Exchange on
    the key) — no join."""
    from pyspark.sql import functions as F

    from pontem_spark.operators.timeseries import rolling_correlation
    from pontem_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"), F.sum("value").alias("y"))
    plan = physical_plan(rolling_correlation(daily, "event_type", "d", "x", "y"))
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert plan.count("FileScan") == 1, plan


def test_target_encoding_facts_never_shuffle(spark, sf_dir):
    """Category stats broadcast back onto the facts: no window over
    facts, no sort-merge join; the global mean derives from the
    category aggregate (no third scan)."""
    from pontem_spark.operators.curation import target_encode_loo
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = target_encode_loo(
        orders, "o_orderpriority", "o_totalprice", ["o_orderkey"], smoothing=10.0
    )
    plan = physical_plan(out)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("FileScan") == 2, plan  # facts + the category-stat branch


def test_pivot_table_one_pass_three_stats(spark):
    """The r8 pivot_table rewrite carries (agg, valid-count, row-count)
    per cell through ONE pivot aggregation — the pandas NaN-cell
    semantics must not cost a second scan or shuffle of the base data.
    Spark's pivot is inherently two-phase (partial agg keyed (index,
    pivot-col), then pivotfirst keyed index — 2 Exchanges even for a
    single agg), so the assertions are: exactly those 2 Exchanges, the
    base scanned ONCE, and Catalyst pruning the stat columns an aggfunc
    doesn't use (sum keeps agg+rowcount, drops the valid-count)."""
    from pontem_spark.core import DataFrame
    from pontem_spark.plans import count_exchanges, physical_plan

    f = DataFrame(
        {"r": ["a", "a", "b"], "c": ["x", "y", "x"], "v": [1.0, 2.0, 3.0]},
        spark=spark,
    )
    out = f.pivot_table(
        index="r", columns="c", values="v", aggfunc="sum",
        column_values=["x", "y"],
    )
    plan = physical_plan(out.to_spark())
    assert count_exchanges(out.to_spark()) == 2
    assert plan.count("Scan ") == 1, plan
    assert "__pvc" not in plan  # unused valid-count pruned for sum


def test_concat_rows_no_shuffle(spark):
    """concat(axis=0) is a pure union: zero Exchange, even with column
    outer-alignment (allowMissingColumns is a projection, not a
    shuffle); the stacking order rides a lazy order spec."""
    from pontem_spark.core import DataFrame
    from pontem_spark.core.frame import concat
    from pontem_spark.plans import count_exchanges

    a = DataFrame({"v": [1.0, 2.0]}, spark=spark)
    b = DataFrame({"v": [3.0], "w": [4.0]}, spark=spark)
    out = concat([a, b])
    assert count_exchanges(out.to_spark()) == 0


def test_dup_label_rowalign_joins_stay_equi(spark):
    """r13 tightened the r12 pin: window-free positional ops compose on
    their SOURCE anchor, so s + s.shift(1) and assign(shift) have NO join
    at all. A genuinely cross-anchor rowalign (two independent
    materializations of the same lineage — sort_values twice) still
    joins, and that join must stay an equi join (SortMerge/Hash) with
    NULL-SAFE helper keys, never a nested loop over data. The ONE
    BroadcastNestedLoopJoin allowed is the 1-row broadcast order stat
    (the crossJoin(F.broadcast(mism)) idiom)."""
    from pontem_spark.core import DataFrame, Series
    from pontem_spark.plans import physical_plan

    s = Series([1.0, 2.0, 3.0, 4.0], index=[5, 5, 7, 7], spark=spark)
    plan = physical_plan((s + s.shift(1)).to_spark())
    assert "Join" not in plan, plan  # same-anchor composition, zero joins

    a = s.sort_values()
    b = s.sort_values().shift(1)
    plan1 = physical_plan((a + b).to_spark())
    assert "SortMergeJoin" in plan1 or "HashJoin" in plan1, plan1
    # ≤3 one-row broadcast stats: the Index.equals flag feeds BOTH
    # runtime pairing branches (cartesian + positional), plus the
    # optional non-total-rowalign dup guard — never a data-sized BNLJ
    assert plan1.count("BroadcastNestedLoopJoin") <= 3, plan1
    assert "CartesianProduct" not in plan1, plan1

    df = DataFrame({"u": [1.0, 2.0, 3.0, 4.0]}, index=[5, 5, 7, 7], spark=spark)
    plan2 = physical_plan(df.assign(su=df["u"].shift(1)).to_spark())
    assert "Join" not in plan2, plan2  # same-anchor composition
    assert "CartesianProduct" not in plan2, plan2


def test_window_free_frame_transforms_compose_without_join(spark):
    """A window-free frame's visible-order transforms stay on the frame's
    own anchor (core/window.py ``Visible``), so d - d.shift(1),
    d - d.cumsum(), d - d.ffill() and d - d.rolling(2).sum() compose
    column-wise with no Join, exactly like d["x"] - d["x"].shift(1).
    Under duplicate index labels that same-anchor pairing is what keeps
    the values positional, like pandas."""
    import pandas as pd

    from pontem_spark.core import DataFrame
    from pontem_spark.plans import physical_plan

    raw = {"x": [1.0, 2.0, 4.0, 7.0], "y": [3.0, None, 5.0, 1.0]}
    ops = {
        "shift": lambda d: d - d.shift(1),
        "cumsum": lambda d: d - d.cumsum(),
        "ffill": lambda d: d - d.ffill(),
        "rolling": lambda d: d - d.rolling(2).sum(),
    }
    d = DataFrame(raw, spark=spark)
    plan = physical_plan((d["x"] - d["x"].shift(1)).to_spark())
    assert "Join" not in plan, plan
    for name, op in ops.items():
        plan = physical_plan(op(d).to_spark())
        assert "Join" not in plan, (name, plan)

    dup = DataFrame(raw, index=[5, 5, 7, 7], spark=spark)
    pdup = pd.DataFrame(raw, index=[5, 5, 7, 7])
    for name, op in ops.items():
        pd.testing.assert_frame_equal(
            op(dup).to_pandas(), op(pdup), check_dtype=False, obj=name
        )


def test_r14_frame_alignment_plan_shapes(spark, sf_dir):
    """r14 plan pins for the rebuilt frame elementwise layer:

    - axis=0 Series broadcast from the SAME anchor is a pure projection
      (zero joins — the normalize-rows idiom costs nothing extra);
    - spec-None cross-anchor frame ⊕ frame (the from_spark big-data
      path) compiles to exactly ONE equi join — no window machinery, no
      cartesian, no one-row broadcast stats;
    - the MultiIndex fill_value query keeps that single-join shape end
      to end.
    """
    from pontem_spark.core import from_spark
    from pontem_spark.plans import physical_plan
    from pontem_spark.queries.registry import all_queries
    from pontem_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    agg = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum("l_quantity").cast("double").alias("qty"),
        F.sum("l_extendedprice").cast("double").alias("rev"),
    )
    f = from_spark(agg, index_col="k")
    plan = physical_plan(f.div(f["qty"] + f["rev"], axis=0).to_spark())
    assert "Join" not in plan, plan

    g = from_spark(agg, index_col="k")
    plan2 = physical_plan((f + g).to_spark())
    assert plan2.count("Join") >= 1, plan2
    assert "SortMergeJoin" in plan2 or "HashJoin" in plan2, plan2
    assert "BroadcastNestedLoopJoin" not in plan2, plan2
    assert "CartesianProduct" not in plan2, plan2
    assert "Window" not in plan2, plan2

    mi_fn = all_queries()["q_api_multiindex_align_fill"].fn
    plan3 = physical_plan(mi_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan3, plan3
    assert "CartesianProduct" not in plan3, plan3
    assert "Window" not in plan3, plan3
