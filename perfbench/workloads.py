"""The benchmark's named query mixes.

Each workload is a fixed list of registry query names
(``pontem_spark.queries.registry``). A run executes its list back to back in
one session, once per pass, in an order the run's seed permutes.
"""

from __future__ import annotations

# 8 of the 22 tpch-tagged queries, one of each shape: an aggregate over a
# scan (q1), a filtered scan (q6), joins of three and six tables (q3, q5),
# the ROADMAP's sentinel q10, an outer join (q13), IN over a grouped
# subquery (q18) and correlated EXISTS / NOT EXISTS (q21). All 22 do not fit
# the per-run time budget beside pipeline_mix.
TPCH = (
    "q1_pricing_summary q3_shipping_priority q5_local_supplier_volume q6_forecast_revenue "
    "q10_returned_items q13_customer_order_distribution q18_large_volume_orders "
    "q21_waiting_supplier"
)

# 10 of the 27 q_api_* queries: the heaviest Py4J builders (rank_na_option,
# ctor_order_positional, interpolate_ffill), the index-alignment paths
# (rowalign_dup_labels, frame_align_arith, merge_filter) and window, group-by
# and reshape queries. All 27 do not fit the per-run time budget.
PANDAS_API = (
    "q_api_rank_na_option q_api_ctor_order_positional q_api_interpolate_ffill "
    "q_api_rowalign_dup_labels q_api_frame_align_arith q_api_ewm_mean "
    "q_api_grouped_transform q_api_merge_filter q_api_grouped_qcut q_api_crosstab"
)

LLM_PIPELINE = (
    "q_graph_pagerank q_graph_triangles q_graph_kcore q_graph_communities "
    "q_dedup_clusters q_dedup_minhash_jaccard q_dedup_simhash_md5_pairs q_dedup_semantic "
    "q_ann_ivf_hier_g2_topk q_ann_ivf_trained_topk q_ann_pq_adc_topk q_ann_brute_force_topk "
    "q_text_bm25_topk q_tfidf_top_terms q_curation_boilerplate_removal "
    "q_pipeline_corpus_prep q_pipeline_entity_resolution q_basket_association_rules "
    "q_embedding_pca_whiten q_text_lang_id"
)

STREAM_INGEST = (
    "q_stream_dedup_daily_users q_stream_histogram_quantiles q_stream_hourly_rollup "
    "q_stream_incremental_rollup q_stream_ks_drift q_stream_seasonal_anomaly "
    "q_stream_session_windows q_stream_sliding_rollup q_stream_stateful_user_stats "
    "q_stream_static_enrich q_stream_stream_join q_stream_time_decay "
    "q_cdc_upsert_readback q_maintenance_compaction_readback q_cdc_scd2_status_history "
    "q_incremental_rollup"
)

# Four of the queries above, so that one short workload reaches every layer
# the last three exercise: semantic dedup (operators/ with eager driver-side
# jobs, an Arrow UDF kernel and cache/localCheckpoint pins), the streaming
# dedup (micro-batch drain and state store), compaction (a parquet rewrite
# through the write-then-swap staging of sources/writers.py, and a pin) and
# a pandas-API query that aligns two frames on their index (core/frame.py).
PIPELINE_MIX = (
    "q_dedup_semantic q_stream_dedup_daily_users q_maintenance_compaction_readback "
    "q_api_frame_align_arith"
)

# sql_star: pure Catalyst/JVM scan, shuffle and codegen work with no Python
#   workers and no pins; the control for changes to operators, Arrow kernels
#   or pin lifecycle.
# pandas_api: driver-side build through core/frame.py and core/series.py
#   (Python + Py4J) is a large share of wall time; alignment-engine and
#   round-trip changes must show here.
# llm_pipeline: operators/ with eager driver-side jobs, Arrow UDF kernels and
#   cache/localCheckpoint pins; exposes in-suite interference.
# stream_ingest: micro-batch drains, state store, foreachBatch monoids and
#   parquet writes in sources/writers.py; nearly all wall time is build.
# pipeline_mix: every layer the three above exercise, in one pass short
#   enough for the per-run time budget.
#
# BENCHMARK.json lists sql_star and pipeline_mix: with a cold set-up of
# 20-40 s on 4 cores, a run of either takes about a minute. pandas_api,
# llm_pipeline and stream_ingest take about 10, 45 and 25 s per warm pass on
# the same box when it is quiet (their cost is per-job overhead, so a smaller
# scale factor does not help); they run by name and in test_smoke.py.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "sql_star": tuple(TPCH.split()),
    "pandas_api": tuple(PANDAS_API.split()),
    "llm_pipeline": tuple(LLM_PIPELINE.split()),
    "stream_ingest": tuple(STREAM_INGEST.split()),
    "pipeline_mix": tuple(PIPELINE_MIX.split()),
}
