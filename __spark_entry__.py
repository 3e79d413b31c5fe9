"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Query inventory maps 1:1 onto SURVEY.md §2: the three reference views
(§2.10), T1/T3/T4 cleaning ops (§2.2-§2.5), D2 reporting (§2.11), the
broader relational surface (§2.12), and the [EXTENDED] LLM-pipeline
operators (dedup / similarity / text analysis / multimodal / streaming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from zylyty_data_engineer_challenge_spark.operators import (
    cluster,
    curate,
    dedup,
    graph,
    lexical,
    multimodal,
    similarity,
    sketches,
    text,
)
from zylyty_data_engineer_challenge_spark.queries import (
    advanced,
    analytics,
    relational,
    timeseries,
    tpch,
    views,
    warehouse,
)
from zylyty_data_engineer_challenge_spark.streaming import (
    cdc_stream,
    curate_stream,
    dedup_stream,
    index_stream,
    join_stream,
    late_stream,
    lexical_stream,
    mm_stream,
    sessionize,
    sketch_stream,
    views_stream,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (view 2, monthly_transaction_summary retargeted) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return views.monthly_transaction_summary_tpch(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDERING IS DELIBERATE: the driver's correctness run grades the first
    50 entries, and the freshness contract (tools/grading_age.py,
    MAX_AGE_ROUNDS=6) is CI-enforced. The first 50 entries are exactly
    the window ``python tools/rotate_window.py`` prints: the §2
    reference surface (always graded, 7 rows), then the rows that reach
    the age wall at the next grading, oldest first and alphabetical
    within a cohort (tests/test_rotate_window.py pins the match).
    Positions 51+ keep their prior relative order. Every registered
    query is verified locally by tools/oracle_check.py (and the
    tests/test_oracle_gate.py suite gate) regardless of grading
    position.
    """

    return {
        # --- graded window (first 50, tools/rotate_window.py order) ---
        "view1_client_transaction_counts": views.client_transaction_counts_tpch,
        "view2_monthly_transaction_summary": views.monthly_transaction_summary_tpch,
        "view3_high_transaction_accounts": views.high_transaction_accounts_tpch,
        "t1_union_pages": relational.t1_union_pages,
        "t3_dedup_keep_first": relational.t3_dedup_keep_first,
        "t4_numeric_coercion": relational.t4_numeric_coercion,
        "d2_completion_counts": relational.d2_completion_counts,
        "stream_static_join": views_stream.stream_static_join,
        "text_quality_classifier": text.text_quality_classifier,
        "bm25_index_append": lexical.bm25_index_append,
        "bm25_index_build": lexical.bm25_index_build,
        "bm25_index_compact": lexical.bm25_index_compact,
        "bm25_index_forget": lexical.bm25_index_forget,
        "bm25_index_probe": lexical.bm25_index_probe,
        "cluster_labels_forget": cluster.cluster_labels_forget,
        "curate_ccnet_buckets": curate.curate_ccnet_buckets,
        "curate_leakage_split": curate.curate_leakage_split,
        "curate_mixture_plan": curate.curate_mixture_plan,
        "curate_quality_funnel": curate.curate_quality_funnel,
        "dedup_canonical_pick": graph.dedup_canonical_pick,
        "dedup_cluster_stats": graph.dedup_cluster_stats,
        "dedup_exact": dedup.dedup_exact,
        "dedup_pairs_forget": dedup.dedup_pairs_forget,
        "dedup_source_overlap": graph.dedup_source_overlap,
        "mm_afp_forget": multimodal.mm_afp_forget,
        "mm_phash_forget": multimodal.mm_phash_forget,
        "pipeline_curate_policy": curate.pipeline_curate_policy,
        "q_forward_fill": analytics.q_forward_fill,
        "q_recursive_cte": warehouse.q_recursive_cte,
        "q_sessionize": advanced.q_sessionize,
        "q_snapshot_expire": warehouse.q_snapshot_expire,
        "q_time_rollup": analytics.q_time_rollup,
        "q_unpivot": advanced.q_unpivot,
        "q_zorder_probe": warehouse.q_zorder_probe,
        "sim_ann_param_sweep": similarity.sim_ann_param_sweep,
        "sim_ann_rerank_recall": similarity.sim_ann_rerank_recall,
        "sim_eval_mrr": similarity.sim_eval_mrr,
        "sim_hybrid_probe": lexical.sim_hybrid_probe,
        "sim_index_delete": similarity.sim_index_delete,
        "stream_afp_append": mm_stream.stream_afp_append,
        "stream_bm25_append": lexical_stream.stream_bm25_append,
        "stream_phash_append": mm_stream.stream_phash_append,
        "stream_quality_funnel": curate_stream.stream_quality_funnel,
        "text_bpe_apply": text.text_bpe_apply,
        "text_bpe_train": text.text_bpe_train,
        "text_bpe_train_step": text.text_bpe_train_step,
        "text_lm_append": text.text_lm_append,
        "text_lm_compact": text.text_lm_compact,
        "text_lm_forget": text.text_lm_forget,
        "text_lm_score": text.text_lm_score,
        # --- position 51+ (prior relative order) ---
        "text_token_stats": text.text_token_stats,
        "text_train_split": curate.text_train_split,
        "curate_epoch_shuffle": curate.curate_epoch_shuffle,
        "curate_shard_assign": curate.curate_shard_assign,
        "dedup_pairs_compact": dedup.dedup_pairs_compact,
        "graph_bfs": graph.graph_bfs,
        "graph_neighbor_jaccard": graph.graph_neighbor_jaccard,
        "mm_audio_append": multimodal.mm_audio_append,
        "mm_audio_probe": multimodal.mm_audio_probe,
        "mm_phash_append": multimodal.mm_phash_append,
        "mm_phash_probe": multimodal.mm_phash_probe,
        "pipeline_curate_all": curate.pipeline_curate_all,
        "q_customer_order_distribution": tpch.q_customer_order_distribution,
        "q_cusum_changepoint": timeseries.q_cusum_changepoint,
        "q_disjunctive_filter": tpch.q_disjunctive_filter,
        "q_event_transitions": timeseries.q_event_transitions,
        "q_idle_wealthy_customers": tpch.q_idle_wealthy_customers,
        "q_important_parts": tpch.q_important_parts,
        "q_large_volume_customers": tpch.q_large_volume_customers,
        "q_late_shipment_priority": tpch.q_late_shipment_priority,
        "q_market_basket": timeseries.q_market_basket,
        "q_market_share": tpch.q_market_share,
        "q_min_cost_supplier": tpch.q_min_cost_supplier,
        "q_nation_trade_volume": tpch.q_nation_trade_volume,
        "q_order_priority_check": tpch.q_order_priority_check,
        "q_outlier_mad": timeseries.q_outlier_mad,
        "q_part_promotion_suppliers": tpch.q_part_promotion_suppliers,
        "q_product_profit": tpch.q_product_profit,
        "q_promo_revenue": tpch.q_promo_revenue,
        "q_salted_join": advanced.q_salted_join,
        "q_skew_profile": warehouse.q_skew_profile,
        "q_small_quantity_revenue": tpch.q_small_quantity_revenue,
        "q_supplier_part_counts": tpch.q_supplier_part_counts,
        "q_time_travel": warehouse.q_time_travel,
        "q_top_supplier": tpch.q_top_supplier,
        "q_waiting_suppliers": tpch.q_waiting_suppliers,
        "sim_index_compact": similarity.sim_index_compact,
        "sim_random_projection": similarity.sim_random_projection,
        "sim_rp_distortion": similarity.sim_rp_distortion,
        "sketch_vocab_jaccard": sketches.sketch_vocab_jaccard,
        "stream_cdc_apply": cdc_stream.stream_cdc_apply,
        "stream_cms_topk": sketch_stream.stream_cms_topk,
        "stream_sliding_window": views_stream.stream_sliding_window,
        "text_tokens_cjk": text.text_tokens_cjk,
        "contam_index_compact": text.contam_index_compact,
        "curate_diversity_sample": curate.curate_diversity_sample,
        "dedup_cc": graph.dedup_cc,
        "dedup_embedding_lsh": dedup.dedup_embedding_lsh,
        "dedup_embedding_recall": dedup.dedup_embedding_recall,
        "dedup_exact_substring": dedup.dedup_exact_substring,
        "dedup_minhash_append": dedup.dedup_minhash_append,
        "dedup_multimodal_cc": graph.dedup_multimodal_cc,
        "dedup_semantic": dedup.dedup_semantic,
        "dedup_semantic_recall_sampled": dedup.dedup_semantic_recall_sampled,
        "dedup_simhash": dedup.dedup_simhash,
        "dedup_simhash_recall_sampled": dedup.dedup_simhash_recall_sampled,
        "graph_communities": graph.graph_communities,
        "graph_kcore": graph.graph_kcore,
        "graph_triangles": graph.graph_triangles,
        "mm_audio_dedup": multimodal.mm_audio_dedup,
        "mm_phash_dedup": multimodal.mm_phash_dedup,
        "mm_scene_cuts": multimodal.mm_scene_cuts,
        "pipeline_curate_d4": curate.pipeline_curate_d4,
        "pipeline_curate_near": curate.pipeline_curate_near,
        "q_funnel": analytics.q_funnel,
        "q_incremental_agg": warehouse.q_incremental_agg,
        "q_null_semantics": advanced.q_null_semantics,
        "q_retention_cohorts": analytics.q_retention_cohorts,
        "q_revenue_filter": relational.q_revenue_filter,
        "q_sliding_window": analytics.q_sliding_window,
        "sim_ann_pq_recall": similarity.sim_ann_pq_recall,
        "sim_ann_rerank": similarity.sim_ann_rerank,
        "sketch_hll_union": sketches.sketch_hll_union,
        "sketch_quantile_err": sketches.sketch_quantile_err,
        "stream_dedup_events": dedup_stream.stream_dedup_events,
        "stream_dedup_pairs": dedup_stream.stream_dedup_pairs,
        "stream_high_activity_users": views_stream.stream_high_activity_users,
        "stream_index_append": index_stream.stream_index_append,
        "stream_session_window": views_stream.stream_session_window,
        "stream_sessionize": sessionize.stream_sessionize,
        "stream_stream_join": join_stream.stream_stream_join,
        "text_chunk": text.text_chunk,
        "text_fingerprint": text.text_fingerprint,
        "text_pack_sequences": curate.text_pack_sequences,
        "text_quality": text.text_quality,
        "text_stratified_sample": curate.text_stratified_sample,
        "contam_index_build": text.contam_index_build,
        "contam_index_append": text.contam_index_append,
        "contam_index_forget": text.contam_index_forget,
        "curate_pack_scaled": curate.curate_pack_scaled,
        "curate_pack_bpe": curate.curate_pack_bpe,
        "dedup_cc_names": graph.dedup_cc_names,
        "dedup_edit_distance": dedup.dedup_edit_distance,
        "dedup_edit_recall_sampled": dedup.dedup_edit_recall_sampled,
        "dedup_embedding_recall_sampled": dedup.dedup_embedding_recall_sampled,
        "mm_audio_energy": multimodal.mm_audio_energy,
        "mm_frame_sample": multimodal.mm_frame_sample,
        "mm_pixel_decode": multimodal.mm_pixel_decode,
        "pipeline_curate": curate.pipeline_curate,
        "pipeline_curate_clean": curate.pipeline_curate_clean,
        "q_approx_quantile": analytics.q_approx_quantile,
        "q_cdc_apply": warehouse.q_cdc_apply,
        "q_cube_sales": advanced.q_cube_sales,
        "q_exact_median": analytics.q_exact_median,
        "q_grouping_sets": analytics.q_grouping_sets,
        "q_json_map_ops": advanced.q_json_map_ops,
        "q_jsonl_roundtrip": warehouse.q_jsonl_roundtrip,
        "q_ntile_deciles": analytics.q_ntile_deciles,
        "q_orc_roundtrip": warehouse.q_orc_roundtrip,
        "q_rollup_sales": relational.q_rollup_sales,
        "q_salted_agg": advanced.q_salted_agg,
        "q_scalar_subquery": advanced.q_scalar_subquery,
        "q_table_profile_approx": warehouse.q_table_profile_approx,
        "q_top_customers": relational.q_top_customers,
        "q_topk_per_group": analytics.q_topk_per_group,
        "q_window_functions": analytics.q_window_functions,
        "q_window_range_frame": analytics.q_window_range_frame,
        "q_zorder_layout": warehouse.q_zorder_layout,
        "sim_index_append": similarity.sim_index_append,
        "sim_index_build": similarity.sim_index_build,
        "sim_index_probe": similarity.sim_index_probe,
        "sim_topk_bruteforce": similarity.sim_topk_bruteforce,
        "sketch_bloom_join": sketches.sketch_bloom_join,
        "sketch_quantile_sample": sketches.sketch_quantile_sample,
        "sketch_weighted_sample": sketches.sketch_weighted_sample,
        "sketch_weighted_sample_est": sketches.sketch_weighted_sample_est,
        "stream_parquet_sink": views_stream.stream_parquet_sink,
        "stream_watermark_canary": late_stream.stream_watermark_canary,
        "text_rarity": text.text_rarity,
        "text_contamination_excise": text.text_contamination_excise,
        "dsir_counts_cached": curate.dsir_counts_cached,
        "dsir_counts_append": curate.dsir_counts_append,
        "dsir_counts_forget": curate.dsir_counts_forget,
        "sim_mrl_store": similarity.sim_mrl_store,
        "curate_pack_bestfit": curate.curate_pack_bestfit,
        "pipeline_curate_v2": curate.pipeline_curate_v2,
        "dsir_counts_compact": curate.dsir_counts_compact,
        "sim_mrl_probe_pruned": similarity.sim_mrl_probe_pruned,
        "sim_mrl_pruned_recall": similarity.sim_mrl_pruned_recall,
        "curate_dsir_sample": curate.curate_dsir_sample,
        "curate_dsir_shift": curate.curate_dsir_shift,
        "sim_mrl_probe": similarity.sim_mrl_probe,
        "sim_mrl_recall": similarity.sim_mrl_recall,
        "curate_lang_temperature": curate.curate_lang_temperature,
        "curate_source_mix": curate.curate_source_mix,
        "dedup_containment": dedup.dedup_containment,
        "dedup_embedding_cosine": dedup.dedup_embedding_cosine,
        "kmeans_inertia": cluster.kmeans_inertia,
        "kmeans_lloyd": cluster.kmeans_lloyd,
        "mm_decode_audio": multimodal.mm_decode_audio,
        "mm_decode_image": multimodal.mm_decode_image,
        "pagerank": graph.pagerank,
        "q_histogram": analytics.q_histogram,
        "q_outer_joins": advanced.q_outer_joins,
        "q_scalar_functions": relational.q_scalar_functions,
        "q_table_profile": warehouse.q_table_profile,
        "q_udf_surface": analytics.q_udf_surface,
        "q_window_running_total": relational.q_window_running_total,
        "sim_ann_ivf_kmeans": similarity.sim_ann_ivf_kmeans,
        "sim_ann_ivf_kmeans_recall": similarity.sim_ann_ivf_kmeans_recall,
        "sim_ann_ivf_recall": similarity.sim_ann_ivf_recall,
        "sim_ann_ivfpq": similarity.sim_ann_ivfpq,
        "sim_ann_ivfpq_recall": similarity.sim_ann_ivfpq_recall,
        "sim_ann_pq": similarity.sim_ann_pq,
        "sim_hybrid_rrf": similarity.sim_hybrid_rrf,
        "sketch_hll_registers": sketches.sketch_hll_registers,
        "sketch_theta_intersect": sketches.sketch_theta_intersect,
        "stream_hll_registers": sketch_stream.stream_hll_registers,
        "text_bm25": text.text_bm25,
        "text_redact": text.text_redact,
        "text_tfidf": text.text_tfidf,
        "curate_boilerplate": curate.curate_boilerplate,
        "dedup_dup_spans": dedup.dedup_dup_spans,
        "sim_hybrid_probe_batch": lexical.sim_hybrid_probe_batch,
        "dedup_dup_excise": dedup.dedup_dup_excise,
        "cluster_labels_append": cluster.cluster_labels_append,
        "stream_dsir_counts": curate_stream.stream_dsir_counts,
        "sim_filtered_ann": similarity.sim_filtered_ann,
        "sim_ann_lsh": similarity.sim_ann_lsh,
        "sketch_kmv_union": sketches.sketch_kmv_union,
        "q_interval_overlap": advanced.q_interval_overlap,
        "q_reservoir_sample": relational.q_reservoir_sample,
        "mm_arrow_resize": multimodal.mm_arrow_resize,
        "sim_ann_ivf": similarity.sim_ann_ivf,
        "q_scd2_dim": warehouse.q_scd2_dim,
        "q_window_extras": warehouse.q_window_extras,
        "q_lateral_topn": warehouse.q_lateral_topn,
        "q_bucketed_join": warehouse.q_bucketed_join,
        "q_udtf_surface": analytics.q_udtf_surface,
        "q_asof_join": advanced.q_asof_join,
        "stream_event_summary": views_stream.stream_event_summary,
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "text_bpe_tokens": text.text_bpe_tokens,
        "q_range_join": analytics.q_range_join,
        "q_gaps_islands": analytics.q_gaps_islands,
        "dedup_fuzzy_names": analytics.dedup_fuzzy_names,
        "q_semi_anti_join": relational.q_semi_anti_join,
        "q_set_ops": relational.q_set_ops,
        "q_pivot_events": relational.q_pivot_events,
        "text_langid": text.text_langid,
        "sketch_kmv_distinct": sketches.sketch_kmv_distinct,
        "sim_ann_recall": similarity.sim_ann_recall,
        "sketch_cms_topk": sketches.sketch_cms_topk,
        "text_contamination_check": text.text_contamination_check,
        "q_shipping_priority": relational.q_shipping_priority,
        "q_local_supplier_volume": relational.q_local_supplier_volume,
        "q_pricing_summary": relational.q_pricing_summary,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "dedup_lsh_recall": dedup.dedup_lsh_recall,
        "dedup_lsh_recall_sampled": dedup.dedup_lsh_recall_sampled,
        "mm_features": multimodal.mm_features,
        "text_repetition": text.text_repetition,
        "text_top_ngrams": text.text_top_ngrams,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query; keys match
    ``queries()`` and every computed column is aliased identically."""
    out: dict[str, str] = {}
    out.update(views.ORACLE_SQL)
    out.update(cluster.ORACLE_SQL)
    out.update(relational.ORACLE_SQL)
    out.update(tpch.ORACLE_SQL)
    out.update(advanced.ORACLE_SQL)
    out.update(analytics.ORACLE_SQL)
    out.update(dedup.ORACLE_SQL)
    out.update(similarity.ORACLE_SQL)
    out.update(lexical.ORACLE_SQL)
    out.update(text.ORACLE_SQL)
    out.update(sketches.ORACLE_SQL)
    out.update(curate.ORACLE_SQL)
    out.update(multimodal.ORACLE_SQL)
    out.update(graph.ORACLE_SQL)
    out.update(warehouse.ORACLE_SQL)
    out.update(views_stream.ORACLE_SQL)
    out.update(sketch_stream.ORACLE_SQL)
    out.update(late_stream.ORACLE_SQL)
    out.update(sessionize.ORACLE_SQL)
    out.update(dedup_stream.ORACLE_SQL)
    out.update(join_stream.ORACLE_SQL)
    out.update(index_stream.ORACLE_SQL)
    out.update(cdc_stream.ORACLE_SQL)
    out.update(curate_stream.ORACLE_SQL)
    out.update(mm_stream.ORACLE_SQL)
    out.update(lexical_stream.ORACLE_SQL)
    out.update(timeseries.ORACLE_SQL)
    return out
