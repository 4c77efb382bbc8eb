"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every operator in SURVEY.md §2 to a callable
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB twin.
Column names are aliased identically on both sides (driver hash-compares
sorted columns). Rows-only operators (hash-family / ANN internals that are
not SQL-portable) intentionally have no oracle entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_schema_spark import functions as table_functions
from etl_schema_spark import quality, streaming
from etl_schema_spark.operators import (
    analytics,
    asof,
    corpus,
    curation,
    dedup,
    drift,
    graph,
    multimodal,
    packing,
    rangejoin,
    relational,
    relational_ext,
    rollups,
    sessions,
    similarity,
    sketches,
    skew,
    text,
    transforms,
    view_families,
    views_layer,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the unified-view pipeline (raw → extended → unified),
    the reference's headline surface (views/ndt/unified_downloads.sql)."""
    return views_layer.unified_view(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION POLICY (pinned — rounds 1 and 2 both lost verdicts to this):
    # the driver scores only the FIRST 50 entries each round. Order as:
    #   1. entries with NO driver verdict yet (new this round or never
    #      scored because they landed past the cap),
    #   2. entries whose executed plan or oracle SQL changed since their
    #      last verdict (mechanically: tools/verdict_freshness.py — the
    #      entry's fingerprint in FINGERPRINTS.json, written by
    #      tools/check_correctness.py, against its fingerprint at the
    #      verdict round), oldest verdict first; when more than fit, the
    #      youngest-verdict ones lead the region below the cap,
    #   3. everything else, OLDEST verdict first (re-verification rotation).
    # When adding an operator, insert it in group 1 — an entry appended at
    # the tail will NOT be scored this round. Enforced by
    # tests/test_plan_audit.py::test_stale_entries_sort_into_scored_window.
    return {
        # -- group 2 (group 1, no verdict yet, is empty): executed plan or
        # oracle changed since the last green verdict (85,
        # tools/verdict_freshness.py), oldest verdict first; those past
        # the cap lead the next round. -------------------------------
        "streaming_topk_keys": streaming.streaming_topk_keys,  # last green r08
        "unified_view_events": views_layer.unified_view,  # last green r08
        "unigram_lm_pieces": text.unigram_lm_pieces,  # last green r08
        "repeat_profile_automaton": dedup.repeat_profile_automaton,  # last green r09
        "vocab_coverage": text.vocab_coverage,  # last green r09
        "bm25_retrieval": text.bm25_retrieval,  # last green r10
        "bpe_merge_candidates": text.bpe_merge_candidates,  # last green r10
        "lm_domain_perplexity": curation.lm_domain_perplexity,  # last green r10
        "quality_logreg_score": curation.quality_logreg_score,  # last green r10
        "quality_score_calibration": curation.quality_score_calibration,  # last green r10
        "streaming_ingest_restore": streaming.streaming_ingest_restore,  # last green r10
        "audio_vad_segments": multimodal.audio_vad_segments,  # last green r11
        "bigram_surprisal": text.bigram_surprisal,  # last green r11
        "decontaminate_ngram_overlap": curation.decontaminate_ngram_overlap,  # last green r11
        "doc_entropy": text.doc_entropy,  # last green r11
        "doremi_excess_reweight": curation.doremi_excess_reweight,  # last green r11
        "multimodal_bmp_meta": multimodal.multimodal_bmp_meta,  # last green r11
        "multimodal_decode_ppm": multimodal.multimodal_decode_ppm,  # last green r11
        "multimodal_frame_sample": multimodal.multimodal_frame_sample,  # last green r11
        "ngram_novelty_score": curation.ngram_novelty_score,  # last green r11
        "streaming_ewma_flags": streaming.streaming_ewma_flags,  # last green r11
        "streaming_session_windows": streaming.streaming_session_windows,  # last green r11
        "winnowing_fingerprint": dedup.winnowing_fingerprint,  # last green r11
        "zipf_term_stats": corpus.zipf_term_stats,  # last green r11
        "annotate_renest": views_layer.annotate_renest,  # last green r12
        "lsh_tuning_curve": dedup.lsh_tuning_curve,  # last green r12
        "minhash_jaccard_estimate": dedup.minhash_jaccard_estimate,  # last green r12
        "multimodal_resize": multimodal.multimodal_resize,  # last green r12
        "quality_rule_drift": drift.quality_rule_drift,  # last green r12
        "repetition_stats": curation.repetition_stats,  # last green r12
        "semdedup_clusters": similarity.semdedup_clusters,  # last green r12
        "streaming_attribution_join": streaming.streaming_attribution_join,  # last green r12
        "streaming_quality_gated_publish": streaming.streaming_quality_gated_publish,  # last green r12
        "substring_repeat_ladder": dedup.substring_repeat_ladder,  # last green r12
        "containment_dup": dedup.containment_dup,  # last green r13
        "cross_lang_contamination": curation.cross_lang_contamination,  # last green r13
        "cross_source_overlap": corpus.cross_source_overlap,  # last green r13
        "daily_deciles": rollups.daily_deciles,  # last green r13
        "dedup_impact_curve": dedup.dedup_impact_curve,  # last green r13
        "domain_mix_weights": packing.domain_mix_weights,  # last green r13
        "geomean_by_type": lambda s, d: table_functions.metric_geomean(s, d, direction=None),  # last green r13
        "image_ahash_dup": multimodal.image_ahash_dup,  # last green r13
        "incremental_neardup": dedup.incremental_neardup,  # last green r13
        "ingest_front_door": dedup.ingest_front_door,  # last green r13
        "kmv_set_ops": sketches.kmv_set_ops,  # last green r13
        "log_pdf_cdf": lambda s, d: table_functions.metric_pdf(s, d, direction=None),  # last green r13
        "multimodal_wav_energy": multimodal.multimodal_wav_energy,  # last green r13
        "pmi_cooccur_terms": text.pmi_cooccur_terms,  # last green r13
        "seasonal_baseline": analytics.seasonal_baseline,  # last green r13
        "streaming_incremental_dedup": streaming.streaming_incremental_dedup,  # last green r13
        # ---------------- 50-entry scoring cap lands here ----------------
        "streaming_ingest_front_door": streaming.streaming_ingest_front_door,  # last green r13
        "streaming_neardup": streaming.streaming_neardup,  # last green r13
        "streaming_rule_drift_gate": streaming.streaming_rule_drift_gate,  # last green r13
        "template_communities": graph.template_communities,  # last green r13
        "tfidf_top_terms": text.tfidf_top_terms,  # last green r13
        "ccnet_source_split": curation.ccnet_source_split,  # last green r14
        "dedup_aware_split": graph.dedup_aware_split,  # last green r14
        "dedup_best_per_user": rollups.dedup_best_per_user,  # last green r14
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,  # last green r14
        "dsir_importance_weights": curation.dsir_importance_weights,  # last green r14
        "dup_cluster_stats": graph.dup_cluster_stats,  # last green r14
        "dup_components": graph.dup_components,  # last green r14
        "dup_pagerank": graph.dup_pagerank,  # last green r14
        "embedding_outliers": similarity.embedding_outliers,  # last green r14
        "epoch_shuffle": corpus.epoch_shuffle,  # last green r14
        "fn_pdf_upload_2021": lambda s, d: table_functions.metric_pdf(s, d, direction="upload", fleet="2021"),  # last green r14
        "hourly_rollup": rollups.hourly_rollup,  # last green r14
        "key_skew_profile": skew.key_skew_profile,  # last green r14
        "label_balance_sample": similarity.label_balance_sample,  # last green r14
        "mad_outliers": analytics.mad_outliers,  # last green r14
        "minhash_pr_eval": dedup.minhash_pr_eval,  # last green r14
        "near_dup_keep_plan": graph.near_dup_keep_plan,  # last green r14
        "pack_efficiency_sweep": packing.pack_efficiency_sweep,  # last green r14
        "pack_fill_audit": packing.pack_fill_audit,  # last green r14
        "pack_sequences": packing.pack_sequences,  # last green r14
        "perplexity_buckets": text.perplexity_buckets,  # last green r14
        "source_token_budget": corpus.source_token_budget,  # last green r14
        "streaming_distinct_keys": streaming.streaming_distinct_keys,  # last green r14
        "streaming_hopping_counts": streaming.streaming_hopping_counts,  # last green r14
        "streaming_hourly_counts": streaming.streaming_hourly_counts,  # last green r14
        "tail_latency_percentiles": analytics.tail_latency_percentiles,  # last green r14
        "trimmed_mean_value": analytics.trimmed_mean_value,  # last green r14
        "triplet_mining": similarity.triplet_mining,  # last green r14
        "user_activity_gini": analytics.user_activity_gini,  # last green r14
        "vocab_growth_curve": corpus.vocab_growth_curve,  # last green r14
        # -- group 3: everything else, oldest green verdict first. ------
        "user_transition_matrix": analytics.user_transition_matrix,  # last green r08
        "weighted_sample_ares": corpus.weighted_sample_ares,  # last green r08
        "zscore_outliers": analytics.zscore_outliers,  # last green r08
        "ann_bruteforce_topk": similarity.ann_bruteforce_topk,  # last green r09
        "ann_ivf_topk": similarity.ann_ivf_topk,  # last green r09
        "ann_lsh_topk": similarity.ann_lsh_topk,  # last green r09
        "centroid_per_label": corpus.centroid_per_label,  # last green r09
        "curation_pipeline": curation.curation_pipeline,  # last green r09
        "embedding_domain_profile": similarity.embedding_domain_profile,  # last green r09
        "embedding_quantize": similarity.embedding_quantize,  # last green r09
        "hll_distinct_estimate": sketches.hll_distinct_estimate,  # last green r09
        "ivf_recall_eval": similarity.ivf_recall_eval,  # last green r09
        "jl_projection": similarity.jl_projection,  # last green r09
        "kmeans_clusters": similarity.kmeans_clusters,  # last green r09
        "knn_classify": similarity.knn_classify,  # last green r09
        "ndcg_eval": similarity.ndcg_eval,  # last green r09
        "pii_scrub": text.pii_scrub,  # last green r09
        "q10_returned_items": relational.q10_returned_items,  # last green r09
        "q11_important_stock": relational_ext.q11_important_stock,  # last green r09
        "q13_customer_distribution": relational_ext.q13_customer_distribution,  # last green r09
        "q14_promo_revenue": relational.q14_promo_revenue,  # last green r09
        "q15_top_supplier": relational_ext.q15_top_supplier,  # last green r09
        "q19_disjunctive_predicate": relational.q19_disjunctive_predicate,  # last green r09
        "q1_pricing_summary": relational.q1_pricing_summary,  # last green r09
        "q2_min_cost_supplier": relational.q2_min_cost_supplier,  # last green r09
        "q3_shipping_priority": relational.q3_shipping_priority,  # last green r09
        "q4_order_priority": relational.q4_order_priority,  # last green r09
        "q5_local_supplier": relational.q5_local_supplier,  # last green r09
        "q6_forecast_revenue": relational.q6_forecast_revenue,  # last green r09
        "q7_volume_shipping": relational.q7_volume_shipping,  # last green r09
        "q8_market_share": relational.q8_market_share,  # last green r09
        "q9_product_type_profit": relational_ext.q9_product_type_profit,  # last green r09
        "quality_expectation_report": quality.expectation_report,  # last green r09
        "range_interval_join": rangejoin.range_interval_join,  # last green r09
        "retention_cohorts": analytics.retention_cohorts,  # last green r09
        "rolling_active_users": rollups.rolling_active_users,  # last green r09
        "wildcard_union": rollups.wildcard_union,  # last green r09
        "ann_pq_topk": similarity.ann_pq_topk,  # last green r10
        "asof_attribution": asof.asof_attribution,  # last green r10
        "asof_nearest": asof.asof_nearest,  # last green r10
        "boundary_templates": dedup.boundary_templates,  # last green r10
        "centroid_shift_drift": similarity.centroid_shift_drift,  # last green r10
        "code_detect": text.code_detect,  # last green r10
        "concurrency_peak": sessions.concurrency_peak,  # last green r10
        "dedup_exact": dedup.dedup_exact,  # last green r10
        "doc_fingerprint": text.doc_fingerprint,  # last green r10
        "embedding_cosine_dup": similarity.embedding_cosine_dup,  # last green r10
        "embedding_decontaminate": similarity.embedding_decontaminate,  # last green r10
        "funnel_conversion": analytics.funnel_conversion,  # last green r10
        "gopher_quality_flags": curation.gopher_quality_flags,  # last green r10
        "joined_view_template": view_families.joined_view_template,  # last green r10
        "kmv_distinct_estimate": sketches.kmv_distinct_estimate,  # last green r10
        "mix_epoch_plan": packing.mix_epoch_plan,  # last green r10
        "pii_risk_profile": text.pii_risk_profile,  # last green r10
        "pivot_event_counts": analytics.pivot_event_counts,  # last green r10
        "q16_parts_supplier": relational_ext.q16_parts_supplier,  # last green r10
        "q17_small_quantity": relational_ext.q17_small_quantity,  # last green r10
        "q18_big_orders": transforms.q18_big_orders,  # last green r10
        "q20_potential_promotion": relational_ext.q20_potential_promotion,  # last green r10
        "q21_suppliers_kept_waiting": relational_ext.q21_suppliers_kept_waiting,  # last green r10
        "q22_inactive_customers": transforms.q22_inactive_customers,  # last green r10
        "raw_view_events": views_layer.raw_view,  # last green r10
        "token_count": text.token_count,  # last green r10
        "trailing_window_view": view_families.trailing_window_view,  # last green r10
        "bloom_membership": sketches.bloom_membership,  # last green r11
        "canonical_pick": corpus.canonical_pick,  # last green r11
        "chunk_dedup": packing.chunk_dedup,  # last green r11
        "cms_frequency_estimate": sketches.cms_frequency_estimate,  # last green r11
        "daily_modal_event": analytics.daily_modal_event,  # last green r11
        "dataset_card": corpus.dataset_card,  # last green r11
        "doc_chunks": packing.doc_chunks,  # last green r11
        "extended_view_events": views_layer.extended_view,  # last green r11
        "hashing_trick_features": text.hashing_trick_features,  # last green r11
        "hll_daily_merge": sketches.hll_daily_merge,  # last green r11
        "interval_coverage": sessions.interval_coverage,  # last green r11
        "langid_heuristic": text.langid_heuristic,  # last green r11
        "late_arrival_audit": analytics.late_arrival_audit,  # last green r11
        "running_totals": sessions.running_totals,  # last green r11
        "scd2_history": analytics.scd2_history,  # last green r11
        "session_top_paths": sessions.session_top_paths,  # last green r11
        "sessionized_events": sessions.sessionized_events,  # last green r11
        "time_weighted_value": analytics.time_weighted_value,  # last green r11
        "token_count_bpe": text.token_count_bpe,  # last green r11
        "tokenizer_fertility": text.tokenizer_fertility,  # last green r11
        "windowed_funnel": analytics.windowed_funnel,  # last green r11
        "ann_graph_expand_eval": similarity.ann_graph_expand_eval,  # last green r12
        "churned_users": analytics.churned_users,  # last green r12
        "doc_length_drift": drift.doc_length_drift,  # last green r12
        "incremental_dedup": dedup.incremental_dedup,  # last green r12
        "psi_value_drift": drift.psi_value_drift,  # last green r12
        "q12_shipmode": relational_ext.q12_shipmode,  # last green r12
        "stratified_sample": corpus.stratified_sample,  # last green r12
        "text_quality": text.text_quality,  # last green r12
        "corr_value_hour": analytics.corr_value_hour,  # last green r13
        "gapfill_interp": analytics.gapfill_interp,  # last green r13
        "gapfill_locf": analytics.gapfill_locf,  # last green r13
        "histogram_quantile_sketch": sketches.histogram_quantile_sketch,  # last green r13
        "json_extract_props": corpus.json_extract_props,  # last green r13
        "linear_trend": analytics.linear_trend,  # last green r13
        "multigrain_stats": analytics.multigrain_stats,  # last green r13
        "multistream_throughput": rollups.multistream_throughput,  # last green r13
        "reservoir_sample_per_key": corpus.reservoir_sample_per_key,  # last green r13
        "rfm_features": analytics.rfm_features,  # last green r13
        "rollup_revenue": analytics.rollup_revenue,  # last green r13
        "topk_drift_weekly": drift.topk_drift_weekly,  # last green r13
        "autojoin_tiered_counts": view_families.autojoin_tiered_counts,  # last green r14
        "cross_source_dup_leakage": corpus.cross_source_dup_leakage,  # last green r14
        "dedup_editdistance": dedup.dedup_editdistance,  # last green r14
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,  # last green r14
        "dedup_minhash_portable": dedup.dedup_minhash_portable,  # last green r14
        "fn_geomean_download_complete": lambda s, d: table_functions.metric_geomean(s, d, direction="download", fleet="complete"),  # last green r14
        "length_filter_sweep": curation.length_filter_sweep,  # last green r14
        "multimodal_meta": multimodal.multimodal_meta,  # last green r14
        "new_vs_returning": analytics.new_vs_returning,  # last green r14
        "restore_unique_docs": corpus.restore_unique_docs,  # last green r14
        "sidestream_view": rollups.sidestream_view,  # last green r14
        "simhash_fingerprint": dedup.simhash_fingerprint,  # last green r14
        "skew_salted_daily_users": skew.skew_salted_daily_users,  # last green r14
        "sliding_window_stats": rollups.sliding_window_stats,  # last green r14
        "source_quality_profile": curation.source_quality_profile,  # last green r14
        "static_mapping": transforms.static_mapping,  # last green r14
        "substring_dup_spans": dedup.substring_dup_spans,  # last green r14
        "switch_utilization": rollups.switch_utilization,  # last green r14
        "tiered_views": view_families.tiered_views,  # last green r14
        "top_clients_per_type": sessions.top_clients_per_type,  # last green r14
    }


def oracle_sql() -> dict[str, str]:
    return {
        "incremental_neardup": dedup.incremental_neardup_oracle(),
        "ingest_front_door": dedup.ingest_front_door_oracle(),
        "streaming_neardup": streaming.streaming_neardup_oracle(),
        "streaming_ingest_front_door": (
            streaming.streaming_ingest_front_door_oracle()
        ),
        "streaming_rule_drift_gate": streaming.streaming_rule_drift_gate_oracle(),
        "ann_graph_expand_eval": similarity.ann_graph_expand_eval_oracle(),
        "pack_fill_audit": packing.pack_fill_audit_oracle(),
        "quality_rule_drift": drift.quality_rule_drift_oracle(),
        "streaming_incremental_dedup": streaming.streaming_incremental_dedup_oracle(),
        "centroid_shift_drift": similarity.centroid_shift_drift_oracle(),
        "dedup_aware_split": graph.dedup_aware_split_oracle(),
        "doc_length_drift": drift.doc_length_drift_oracle(),
        "doremi_excess_reweight": curation.doremi_excess_reweight_oracle(),
        "key_skew_profile": skew.key_skew_profile_oracle(),
        "near_dup_keep_plan": graph.near_dup_keep_plan_oracle(),
        "pii_risk_profile": text.pii_risk_profile_oracle(),
        "quality_score_calibration": curation.quality_score_calibration_oracle(),
        "streaming_ingest_restore": streaming.streaming_ingest_restore_oracle(),
        "ccnet_source_split": curation.ccnet_source_split_oracle(),
        "psi_value_drift": drift.psi_value_drift_oracle(),
        "topk_drift_weekly": drift.topk_drift_weekly_oracle(),
        "embedding_domain_profile": similarity.embedding_domain_profile_oracle(),
        "ivf_recall_eval": similarity.ivf_recall_eval_oracle(),
        "label_balance_sample": similarity.label_balance_sample_oracle(),
        "lm_domain_perplexity": curation.lm_domain_perplexity_oracle(),
        "quality_expectation_report": quality.expectation_report_oracle(),
        "streaming_quality_gated_publish": streaming.streaming_quality_gated_publish_oracle(),
        "substring_repeat_ladder": dedup.substring_repeat_ladder_oracle(),
        "ann_pq_topk": similarity.ann_pq_topk_oracle(),
        "streaming_hourly_counts": streaming.streaming_hourly_counts_oracle(),
        "streaming_session_windows": streaming.streaming_session_windows_oracle(),
        "quality_logreg_score": curation.quality_logreg_score_oracle(),
        "embedding_decontaminate": similarity.embedding_decontaminate_oracle(),
        "mix_epoch_plan": packing.mix_epoch_plan_oracle(),
        "dup_cluster_stats": graph.dup_cluster_stats_oracle(),
        "skew_salted_daily_users": skew.skew_salted_daily_users_oracle(),
        "bpe_merge_candidates": text.bpe_merge_candidates_oracle(),
        "user_transition_matrix": analytics.user_transition_matrix_oracle(),
        "session_top_paths": sessions.session_top_paths_oracle(),
        "streaming_distinct_keys": streaming.streaming_distinct_keys_oracle(),
        "substring_dup_spans": dedup.substring_dup_spans_oracle(),
        "streaming_hopping_counts": streaming.streaming_hopping_counts_oracle(),
        "streaming_attribution_join": streaming.streaming_attribution_join_oracle(),
        "image_ahash_dup": multimodal.image_ahash_dup_oracle(),
        "audio_vad_segments": multimodal.audio_vad_segments_oracle(),
        "minhash_jaccard_estimate": dedup.minhash_jaccard_estimate_oracle(),
        "raw_view_events": views_layer.raw_view_oracle(),
        "extended_view_events": views_layer.extended_view_oracle(),
        "unified_view_events": views_layer.unified_view_oracle(),
        "annotate_renest": views_layer.annotate_renest_oracle(),
        "dedup_best_per_user": rollups.dedup_best_per_user_oracle(),
        "hourly_rollup": rollups.hourly_rollup_oracle(),
        "daily_deciles": rollups.daily_deciles_oracle(),
        "log_pdf_cdf": table_functions.metric_pdf_oracle(direction=None),
        "geomean_by_type": table_functions.metric_geomean_oracle(direction=None),
        "switch_utilization": rollups.switch_utilization_oracle(),
        "sidestream_view": rollups.sidestream_view_oracle(),
        "wildcard_union": rollups.wildcard_union_oracle(),
        "multistream_throughput": rollups.multistream_throughput_oracle(),
        "fn_pdf_upload_2021": table_functions.metric_pdf_oracle(
            direction="upload", fleet="2021"
        ),
        "fn_geomean_download_complete": table_functions.metric_geomean_oracle(
            direction="download", fleet="complete"
        ),
        "source_quality_profile": curation.source_quality_profile_oracle(),
        "tokenizer_fertility": text.tokenizer_fertility_oracle(),
        "pmi_cooccur_terms": text.pmi_cooccur_terms_oracle(),
        "interval_coverage": sessions.interval_coverage_oracle(),
        "reservoir_sample_per_key": corpus.reservoir_sample_per_key_oracle(),
        "restore_unique_docs": corpus.restore_unique_docs_oracle(),
        "repeat_profile_automaton": dedup.repeat_profile_automaton_oracle(),
        "unigram_lm_pieces": text.unigram_lm_pieces_oracle(),
        "dsir_importance_weights": curation.dsir_importance_weights_oracle(),
        "cross_source_dup_leakage": corpus.cross_source_dup_leakage_oracle(),
        "length_filter_sweep": curation.length_filter_sweep_oracle(),
        "trimmed_mean_value": analytics.trimmed_mean_value_oracle(),
        "weighted_sample_ares": corpus.weighted_sample_ares_oracle(),
        "lsh_tuning_curve": dedup.lsh_tuning_curve_oracle(),
        "mad_outliers": analytics.mad_outliers_oracle(),
        "boundary_templates": dedup.boundary_templates_oracle(),
        "perplexity_buckets": text.perplexity_buckets_oracle(),
        "semdedup_clusters": similarity.semdedup_clusters_oracle(),
        "doc_entropy": text.doc_entropy_oracle(),
        "ngram_novelty_score": curation.ngram_novelty_score_oracle(),
        "cross_lang_contamination": curation.cross_lang_contamination_oracle(),
        "tail_latency_percentiles": analytics.tail_latency_percentiles_oracle(),
        "user_activity_gini": analytics.user_activity_gini_oracle(),
        "embedding_outliers": similarity.embedding_outliers_oracle(),
        "dedup_impact_curve": dedup.dedup_impact_curve_oracle(),
        "streaming_ewma_flags": streaming.streaming_ewma_flags_oracle(),
        "bm25_retrieval": text.bm25_retrieval_oracle(),
        "pack_efficiency_sweep": packing.pack_efficiency_sweep_oracle(),
        "hll_daily_merge": sketches.hll_daily_merge_oracle(),
        "new_vs_returning": analytics.new_vs_returning_oracle(),
        "windowed_funnel": analytics.windowed_funnel_oracle(),
        "daily_modal_event": analytics.daily_modal_event_oracle(),
        "concurrency_peak": sessions.concurrency_peak_oracle(),
        "asof_nearest": asof.asof_nearest_oracle(),
        "dataset_card": corpus.dataset_card_oracle(),
        "winnowing_fingerprint": dedup.winnowing_fingerprint_oracle(),
        "dup_pagerank": graph.dup_pagerank_oracle(),
        "triplet_mining": similarity.triplet_mining_oracle(),
        "streaming_topk_keys": streaming.streaming_topk_keys_oracle(),
        "gapfill_interp": analytics.gapfill_interp_oracle(),
        "template_communities": graph.template_communities_oracle(),
        "ndcg_eval": similarity.ndcg_eval_oracle(),
        "code_detect": text.code_detect_oracle(),
        "hashing_trick_features": text.hashing_trick_features_oracle(),
        "containment_dup": dedup.containment_dup_oracle(),
        "scd2_history": analytics.scd2_history_oracle(),
        "rfm_features": analytics.rfm_features_oracle(),
        "jl_projection": similarity.jl_projection_oracle(),
        "minhash_pr_eval": dedup.minhash_pr_eval_oracle(),
        "late_arrival_audit": analytics.late_arrival_audit_oracle(),
        "vocab_growth_curve": corpus.vocab_growth_curve_oracle(),
        "q1_pricing_summary": relational.q1_oracle(),
        "q3_shipping_priority": relational.q3_oracle(),
        "q5_local_supplier": relational.q5_oracle(),
        "q2_min_cost_supplier": relational.q2_oracle(),
        "q4_order_priority": relational.q4_oracle(),
        "q8_market_share": relational.q8_oracle(),
        "q6_forecast_revenue": relational.q6_oracle(),
        "q7_volume_shipping": relational.q7_oracle(),
        "q10_returned_items": relational.q10_oracle(),
        "q14_promo_revenue": relational.q14_oracle(),
        "q19_disjunctive_predicate": relational.q19_oracle(),
        "q9_product_type_profit": relational_ext.q9_oracle(),
        "q11_important_stock": relational_ext.q11_oracle(),
        "cms_frequency_estimate": sketches.cms_frequency_estimate_oracle(),
        "kmv_set_ops": sketches.kmv_set_ops_oracle(),
        "hll_distinct_estimate": sketches.hll_distinct_estimate_oracle(),
        "cross_source_overlap": corpus.cross_source_overlap_oracle(),
        "vocab_coverage": text.vocab_coverage_oracle(),
        "seasonal_baseline": analytics.seasonal_baseline_oracle(),
        "decontaminate_ngram_overlap": curation.decontaminate_ngram_overlap_oracle(),
        "repetition_stats": curation.repetition_stats_oracle(),
        "gopher_quality_flags": curation.gopher_quality_flags_oracle(),
        "pack_sequences": packing.pack_sequences_oracle(),
        "doc_chunks": packing.doc_chunks_oracle(),
        "chunk_dedup": packing.chunk_dedup_oracle(),
        "domain_mix_weights": packing.domain_mix_weights_oracle(),
        "embedding_quantize": similarity.embedding_quantize_oracle(),
        "multigrain_stats": analytics.multigrain_stats_oracle(),
        "incremental_dedup": dedup.incremental_dedup_oracle(),
        "gapfill_locf": analytics.gapfill_locf_oracle(),
        "multimodal_decode_ppm": multimodal.multimodal_decode_ppm_oracle(),
        "multimodal_bmp_meta": multimodal.multimodal_bmp_meta_oracle(),
        "tiered_views": view_families.tiered_views_oracle(),
        "autojoin_tiered_counts": view_families.autojoin_tiered_counts_oracle(),
        "trailing_window_view": view_families.trailing_window_view_oracle(),
        "joined_view_template": view_families.joined_view_template_oracle(),
        "q12_shipmode": relational_ext.q12_oracle(),
        "q13_customer_distribution": relational_ext.q13_oracle(),
        "q15_top_supplier": relational_ext.q15_oracle(),
        "q16_parts_supplier": relational_ext.q16_oracle(),
        "q17_small_quantity": relational_ext.q17_oracle(),
        "q20_potential_promotion": relational_ext.q20_oracle(),
        "q21_suppliers_kept_waiting": relational_ext.q21_oracle(),
        "static_mapping": transforms.static_mapping_oracle(),
        "q18_big_orders": transforms.q18_oracle(),
        "q22_inactive_customers": transforms.q22_oracle(),
        "asof_attribution": asof.asof_attribution_oracle(),
        "rollup_revenue": analytics.rollup_revenue_oracle(),
        "pivot_event_counts": analytics.pivot_event_counts_oracle(),
        "corr_value_hour": analytics.corr_value_hour_oracle(),
        "funnel_conversion": analytics.funnel_conversion_oracle(),
        "time_weighted_value": analytics.time_weighted_value_oracle(),
        "churned_users": analytics.churned_users_oracle(),
        "sessionized_events": sessions.sessionized_events_oracle(),
        "running_totals": sessions.running_totals_oracle(),
        "top_clients_per_type": sessions.top_clients_per_type_oracle(),
        "range_interval_join": rangejoin.range_interval_join_oracle(),
        "dedup_minhash_portable": dedup.dedup_minhash_portable_oracle(),
        "histogram_quantile_sketch": sketches.histogram_quantile_sketch_oracle(),
        "pii_scrub": text.pii_scrub_oracle(),
        "epoch_shuffle": corpus.epoch_shuffle_oracle(),
        "sliding_window_stats": rollups.sliding_window_stats_oracle(),
        "source_token_budget": corpus.source_token_budget_oracle(),
        "zscore_outliers": analytics.zscore_outliers_oracle(),
        "rolling_active_users": rollups.rolling_active_users_oracle(),
        "retention_cohorts": analytics.retention_cohorts_oracle(),
        "bloom_membership": sketches.bloom_membership_oracle(),
        "linear_trend": analytics.linear_trend_oracle(),
        "multimodal_wav_energy": multimodal.multimodal_wav_energy_oracle(),
        "curation_pipeline": curation.curation_pipeline_oracle(),
        "dedup_exact": dedup.dedup_exact_oracle(),
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard_oracle(),
        "dedup_editdistance": dedup.dedup_editdistance_oracle(),
        "dup_components": graph.dup_components_oracle(),
        "kmv_distinct_estimate": sketches.kmv_distinct_estimate_oracle(),
        # dedup_minhash_lsh: self-consistency oracle since r5 — the
        # verified pair set re-derived through the portable md5 family at
        # the same banding (see dedup.dedup_minhash_lsh_oracle docstring)
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh_oracle(),
        "simhash_fingerprint": dedup.simhash_fingerprint_oracle(),
        "doc_fingerprint": text.doc_fingerprint_oracle(),
        "token_count": text.token_count_oracle(),
        "token_count_bpe": text.token_count_bpe_oracle(),
        "text_quality": text.text_quality_oracle(),
        "langid_heuristic": text.langid_heuristic_oracle(),
        "tfidf_top_terms": text.tfidf_top_terms_oracle(),
        "bigram_surprisal": text.bigram_surprisal_oracle(),
        "ann_bruteforce_topk": similarity.ann_bruteforce_topk_oracle(),
        "embedding_cosine_dup": similarity.embedding_cosine_dup_oracle(),
        # ann_ivf upgraded from rows-only in round 2: decimal-exact codebook
        # means make the probe and in-bucket ranking bit-portable
        "ann_ivf_topk": similarity.ann_ivf_topk_oracle(),
        "ann_lsh_topk": similarity.ann_lsh_topk_oracle(),
        "knn_classify": similarity.knn_classify_oracle(),
        # kmeans upgraded from rows-only in round 2: decimal-exact centroid
        # means + exact inertia sums make every round bit-portable, so the
        # oracle unrolls the fixed Lloyd rounds as CTEs
        "kmeans_clusters": similarity.kmeans_clusters_oracle(),
        "multimodal_meta": multimodal.multimodal_meta_oracle(),
        "multimodal_frame_sample": multimodal.multimodal_frame_sample_oracle(),
        "multimodal_resize": multimodal.multimodal_resize_oracle(),
        "json_extract_props": corpus.json_extract_props_oracle(),
        "stratified_sample": corpus.stratified_sample_oracle(),
        "zipf_term_stats": corpus.zipf_term_stats_oracle(),
        "centroid_per_label": corpus.centroid_per_label_oracle(),
        "canonical_pick": corpus.canonical_pick_oracle(),
    }
