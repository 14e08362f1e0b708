"""Second, independent comparator for the queries that once entered the
registry through per-round staging lists (retired; every query now enters
with ``@register``). Each is taken from the registry and checked against
its DuckDB oracle element by element, NaT-aware and without
``test_oracle._normalize``'s dtype folding, so a normalisation bug there
cannot hide a wrong answer for these queries."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pontem_spark.queries.registry import all_queries

_QUERIES = all_queries()

FORMERLY_STAGED = (
    "q_abtest_mann_whitney",
    "q_abtest_welch_cuped",
    "q_ann_pq_adc_topk",
    "q_ann_rrf_fusion",
    "q_api_ctor_order_positional",
    "q_api_cut",
    "q_api_ewm_mean",
    "q_api_frame_align_arith",
    "q_api_get_dummies",
    "q_api_groupby_skew_sem",
    "q_api_interpolate_ffill",
    "q_api_nextreme_keep",
    "q_api_rank_na_option",
    "q_api_rowalign_dup_labels",
    "q_api_value_counts_xs",
    "q_api_where_ffill_rolling",
    "q_basket_association_rules",
    "q_cdc_scd2_status_history",
    "q_cdc_upsert_readback",
    "q_chunk_rag_windows",
    "q_dedup_simhash_collapsed_pairs",
    "q_embedding_pca_whiten",
    "q_events_attribution",
    "q_events_interarrival",
    "q_events_markov_transitions",
    "q_events_rfm",
    "q_events_seasonal_anomaly",
    "q_events_session_metrics",
    "q_feature_target_encoding",
    "q_graph_communities",
    "q_graph_kcore",
    "q_graph_pagerank_dangling",
    "q_graph_triangles",
    "q_join_bloom_prefilter",
    "q_maintenance_compaction_readback",
    "q_pipeline_entity_resolution",
    "q_pipeline_feature_store",
    "q_profile_abc",
    "q_profile_benford",
    "q_profile_concentration",
    "q_profile_ks_drift",
    "q_profile_mad_outliers",
    "q_profile_skew_report",
    "q_profile_trend_fit",
    "q_quality_dup_ngrams",
    "q_quality_expectations",
    "q_reconcile_snapshots",
    "q_sample_group_split",
    "q_sample_negatives",
    "q_sample_source_mix",
    "q_sketch_cms_counts",
    "q_stream_ks_drift",
    "q_stream_seasonal_anomaly",
    "q_stream_time_decay",
    "q_survival_repeat_order",
    "q_text_bigram_pmi",
    "q_text_bm25_topk",
    "q_text_ctfidf_terms",
    "q_ts_acf",
    "q_ts_asfreq",
    "q_ts_cusum_changepoint",
    "q_ts_rolling_corr",
    "q_ts_series_resample",
    "q_ts_time_decay",
)


@pytest.mark.parametrize("name", FORMERLY_STAGED)
def test_pending_query_matches_oracle(name, spark, duck, sf_dir):
    q = _QUERIES[name]
    assert q.oracle is not None, name
    got = q.fn(spark, sf_dir).toPandas()
    want = duck.execute(q.oracle).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), name
    assert len(got) == len(want), (name, len(got), len(want))
    g = got[sorted(got.columns)].sort_values(by=sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(by=sorted(want.columns)).reset_index(drop=True)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            # NaT-aware: the driver's astype(str) compare renders NaT as
            # "NaT" on both sides; locally NaT == NaT is False, so treat
            # any pandas missing scalar as missing.
            a_nan = a is None or a is pd.NaT or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or b is pd.NaT or (isinstance(b, float) and math.isnan(b))
            assert a_nan == b_nan and (a_nan or a == b), (name, c, i, a, b)
