"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the noop datasource (full
computation, no driver-side collect cost). Reported seconds are
wall-clock per query; "value" is the total.

HEADLINE selection rule (round 10): every registry query whose
best-of-2 time exceeded 1 s at sf0.1 in the most recent full two-SF
sweep (tools/scale_sweep.py) MUST have a headline entry — the
cross-round wall-time history is what caught or cleared every
phantom regression since round 6, and cheap sub-second queries are
already covered by the sweep's slope gate. New operators enter the
list in their debut round regardless of cost. Queries may be ADDED
by later rounds but never silently dropped (dropping one resets its
history; retire only with a dated note here).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from mongo_cdc_spark.operators import (  # noqa: E402
    cdc_batch, dedup, graph, layout, multimodal, quality, relational,
    similarity, skew, sqlfront, text, timeseries, tpch_full, training,
)
from mongo_cdc_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # NOTE 2026-10-18: "cdc_relay" times the BATCH cdc_topic_routing
    # query (parse + route + count per topic), not the streaming relay;
    # the stream's throughput is the "cdc_relay_stream" block. The
    # label keeps its name so its history series stays unbroken.
    ("cdc_relay", cdc_batch.cdc_topic_routing),
    ("q1", relational.q1_pricing_summary),
    ("q3", relational.q3_shipping_priority),
    ("q5", relational.q5_local_supplier_volume),
    ("q10", relational.q10_returned_items),
    ("q7", tpch_full.q7_volume_shipping),
    ("q9", tpch_full.q9_product_profit),
    ("q13", tpch_full.q13_customer_distribution),
    ("q21", tpch_full.q21_waiting_supplier),
    ("window_topk", relational.window_topk_orders_per_segment),
    ("window_running", relational.window_running_customer_spend),
    ("sessionization", relational.events_sessionization),
    ("join_asof", relational.join_asof_purchase_click),
    ("dedup_exact", dedup.dedup_exact),
    ("dedup_jaccard", dedup.dedup_ngram_jaccard),
    ("dedup_minhash_lsh", dedup.dedup_minhash_lsh),
    ("dedup_simhash", dedup.dedup_simhash),
    ("dedup_span_kgram", dedup.dedup_span_kgram),
    ("knn_bruteforce", similarity.knn_bruteforce_cosine),
    ("knn_ivf", similarity.knn_ivf_centroid),
    ("knn_lsh", similarity.knn_lsh_hyperplane),
    ("knn_pq_search", similarity.knn_pq_search),
    ("knn_ivfpq_search", similarity.knn_ivfpq_search),
    ("text_quality", text.text_quality_scores),
    ("text_top_tokens", text.text_top_tokens),
    ("text_bpe_tokens", text.text_bpe_token_count),
    ("multimodal_decode", multimodal.multimodal_fake_decode),
    # round-4 additions
    ("multimodal_real_decode", multimodal.multimodal_real_decode),
    ("dedup_incremental", dedup.dedup_incremental_new_batch),
    ("dedup_semdedup", dedup.dedup_semantic_semdedup),
    ("train_curriculum", training.train_curriculum_order),
    ("knn_sq8_search", similarity.knn_sq8_search),
    ("layout_zorder", layout.layout_zorder_events),
    ("layout_hilbert", layout.layout_hilbert_events),
    # round-4 session-2 additions
    ("ts_gapfill", timeseries.ts_gapfill_interpolate),
    ("ts_ewma", timeseries.ts_ewma_trend),
    ("cdc_snapshot_diff", cdc_batch.cdc_snapshot_diff),
    ("reconcile_totals", quality.quality_reconcile_order_totals),
    ("mad_outliers", quality.stats_mad_outliers),
    ("zonemap_skipping", layout.layout_zonemap_skipping),
    ("interval_join", relational.streaming_interval_join_replay),
    ("knn_mmr", similarity.knn_mmr_rerank),
    ("pagerank", graph.graph_pagerank_trade),
    ("sliding_distinct", relational.events_sliding_distinct_users),
    ("basket_pairs", relational.basket_part_pairs),
    ("time_to_convert", relational.events_time_to_convert),
    ("weighted_median", relational.agg_weighted_median),
    ("hard_negatives", similarity.mine_hard_negatives),
    # round-4 session-3 (continuation) additions
    ("audio_decode", multimodal.audio_real_decode),
    ("graph_triangles", graph.graph_triangle_count),
    ("graph_khop_bfs", graph.graph_khop_reachability),
    ("ts_acf", timeseries.ts_autocorr_daily),
    ("ts_cusum", timeseries.ts_cusum_changepoint),
    ("pmi_bigrams", text.text_pmi_bigrams),
    ("schema_drift", quality.quality_schema_drift),
    ("scd2_pit_join", relational.scd2_point_in_time_join),
    ("ann_recall", similarity.ann_recall_eval),
    ("attribution_linear", relational.events_attribution_linear),
    ("path_trigrams", relational.events_path_trigrams),
    ("percent_rank", relational.window_percent_rank_spend),
    ("bpe_merge_learn", training.train_bpe_merge_learn),
    ("interval_left_join", relational.streaming_interval_left_join_replay),
    ("audio_resample", multimodal.audio_resample),
    ("mode_per_segment", relational.agg_mode_per_segment),
    ("benford", quality.quality_benford_digits),
    ("hourly_entropy", timeseries.ts_hourly_entropy),
    ("semantic_decon", training.train_decontaminate_semantic),
    ("funnel_steps", relational.events_funnel_steps),
    ("bpe_apply", training.train_bpe_tokenize_apply),
    ("zipf_fit", text.text_zipf_fit),
    ("regex_router", cdc_batch.cdc_topic_regex_router),
    ("survival_km", relational.events_survival_km),
    ("basket_rules", relational.basket_rules_lift),
    ("readability", text.text_readability_proxy),
    ("cdc_op_mix", cdc_batch.cdc_op_mix_stats),
    ("revenue_gini", relational.events_revenue_concentration),
    ("silhouette", similarity.kmeans_silhouette_eval),
    # round-4 session-4 (continuation) additions
    ("ohlc_bars", timeseries.ts_ohlc_bars),
    ("twap", timeseries.ts_time_weighted_avg),
    ("chi_square", quality.stats_chi_square_independence),
    ("jackknife", quality.stats_jackknife_mean),
    ("ab_test", quality.ab_test_proportions),
    ("dau_wau", relational.events_dau_wau_stickiness),
    ("ltv_curve", relational.customer_ltv_curve),
    ("winsorize", quality.feature_winsorized_scale),
    ("bigram_lm", text.text_bigram_logprob),
    ("jsd_sources", text.text_js_divergence_sources),
    ("ohlc_stream_twin", timeseries.streaming_ohlc_replay),
    ("supplier_simjoin", graph.graph_supplier_similarity),
    ("cume_dist", relational.window_cume_dist_spend),
    ("rate_ci", timeseries.events_rate_ci),
    ("range_bounds", layout.layout_range_bounds),
    ("sketch_eval", quality.sketch_accuracy_eval),
    ("image_phash", multimodal.multimodal_image_phash),
    ("user_lifecycle", relational.events_user_lifecycle),
    ("peak_concurrency", relational.events_peak_concurrency),
    ("watermark_lag", relational.events_watermark_lag_profile),
    ("hint_merge", relational.join_hint_merge),
    ("hour_dow_heatmap", relational.events_hour_dow_heatmap),
    ("audio_vad", multimodal.multimodal_audio_vad),
    ("bot_score", relational.events_bot_score),
    ("seasonal_strength", timeseries.ts_seasonal_strength),
    ("bollinger", timeseries.ts_bollinger_bands),
    ("abc_class", relational.parts_abc_classification),
    ("tier_migration", relational.customer_tier_migration),
    ("shingle_novelty", text.text_shingle_novelty),
    ("passage_chunks", training.train_passage_chunks),
    ("theilsen", timeseries.ts_theilsen_trend),
    ("ivf_balance", similarity.knn_ivf_balance_report),
    ("incident_windows", timeseries.events_incident_windows),
    ("shard_manifest", training.train_shard_manifest),
    ("resume_gap_audit", cdc_batch.cdc_resume_gap_audit),
    ("decay_score", relational.events_decay_engagement_score),
    ("interleave", training.train_interleave_schedule),
    ("assortativity", graph.graph_degree_assortativity),
    ("stopword_profile", text.text_stopword_profile),
    ("wow_growth", timeseries.events_wow_growth),
    ("cuped", quality.ab_test_cuped),
    ("mutual_info", quality.stats_mutual_information),
    ("power_analysis", quality.ab_test_power_analysis),
    # renamed from "burstiness" in round 11 (ADVICE r10): through
    # round 9 that label's recorded history was text_term_burstiness
    # (a round-7 duplicate label won the timings-dict collision), so
    # rows under the old name straddle two different queries — this
    # entry starts a clean series; pre-round-10 "burstiness" history
    # belongs to text_term_burstiness.
    ("events_burstiness", timeseries.events_burstiness_index),
    ("heaps_law", text.text_heaps_law_fit),
    ("phash_near_pairs", multimodal.multimodal_phash_near_pairs),
    ("littles_law", relational.events_littles_law_audit),
    ("snaive_backtest", timeseries.ts_snaive_backtest),
    ("transition_entropy", timeseries.events_transition_entropy),
    ("session_stats", relational.events_session_stats),
    ("padding_waste", training.train_padding_waste),
    ("embedding_gate", similarity.embedding_quality_gate),
    ("cross_type_lift", relational.events_cross_type_lift),
    ("welch_test", timeseries.events_weekend_welch_test),
    ("lsh_scurve", dedup.dedup_lsh_scurve_tuning),
    ("aging_buckets", relational.orders_aging_buckets),
    ("supplier_hhi", relational.parts_supplier_hhi),
    ("elasticity", relational.discount_quantity_elasticity),
    ("error_budget", relational.events_error_budget),
    ("trade_balance", relational.nation_trade_balance),
    ("vocab_coverage", text.text_vocab_coverage_curve),
    # round-6 additions
    ("split_leakage", training.train_split_leakage),
    ("contamination_span", training.train_contamination_span),
    ("label_propagation", graph.graph_label_propagation),
    ("clustering_depth", layout.layout_clustering_depth),
    ("dedup_keep_best", training.train_dedup_keep_best),
    ("ks_two_sample", quality.stats_ks_two_sample),
    ("image_patches", multimodal.multimodal_image_patches),
    ("length_buckets", training.train_length_buckets),
    ("sprt", quality.ab_test_sequential_sprt),
    ("video_shots", multimodal.multimodal_video_shots),
    ("schema_evolution", cdc_batch.cdc_schema_evolution_audit),
    ("mips_augment", similarity.similarity_mips_norm_augment),
    ("fdr_bh", timeseries.stats_fdr_bh_weekend),
    ("woe_iv", quality.feature_woe_iv),
    ("target_encode_loo", quality.feature_target_encode_loo),
    ("pareto_skyline", relational.parts_pareto_skyline),
    ("hashing_trick", text.feature_hashing_trick),
    ("pca_covariance", similarity.embedding_pca_covariance),
    ("jaro_winkler", dedup.dedup_jaro_winkler),
    ("phrase_match", text.search_phrase_match),
    ("static_enrich", relational.streaming_static_enrich_replay),
    ("audio_spectrum", multimodal.multimodal_audio_spectrum),
    ("pca_explained", similarity.embedding_pca_explained_variance),
    ("markov_attribution", relational.events_attribution_markov),
    ("bootstrap_ci", quality.stats_bootstrap_subsample_ci),
    ("motif_discovery", timeseries.ts_motif_discovery),
    ("ssim_probe", multimodal.multimodal_ssim_probe_rank),
    ("recursive_cte", relational.sql_recursive_reachability),
    ("permutation_test", quality.stats_permutation_weekend),
    ("isotonic", quality.stats_isotonic_calibration),
    ("kcore", graph.graph_kcore_decomposition),
    ("psi_drift", quality.feature_psi_drift),
    ("conformal", quality.stats_conformal_interval),
    ("diff_in_diff", quality.ab_test_diff_in_diff),
    ("join_estimate", relational.stats_join_size_estimate),
    ("brier", quality.stats_brier_decomposition),
    ("audio_fingerprint", multimodal.multimodal_audio_fingerprint),
    ("neyman", quality.sample_neyman_allocation),
    ("kfold_cv", quality.stats_kfold_cv_slope),
    ("local_clustering", graph.graph_local_clustering),
    ("salting_plan", skew.skew_salting_plan),
    ("mixture_temp", training.train_mixture_temperature),
    ("bloom_design", layout.layout_bloom_design),
    ("fd_discovery", quality.quality_fd_discovery),
    ("rake", text.text_rake_keywords),
    ("binseg", timeseries.ts_binseg_changepoints),
    ("jl_audit", similarity.similarity_jl_projection_audit),
    ("auc_roc", quality.stats_auc_roc),
    ("epoch_shuffle", training.train_epoch_shuffle_audit),
    ("selectivity", relational.stats_selectivity_estimate),
    ("srm_check", quality.ab_test_srm_check),
    ("hill_tail", quality.stats_hill_tail_index),
    ("keyframe", multimodal.multimodal_video_keyframe),
    ("iv_wald", quality.ab_test_iv_wald),
    ("partition_plan", layout.layout_partition_granularity_plan),
    ("trending_topk", relational.streaming_trending_topk_replay),
    ("clustered_se", quality.ab_test_clustered_se),
    ("eb_shrinkage", quality.stats_eb_shrinkage),
    # was also labeled "burstiness" (round-7 copy/paste) and silently
    # shadowed the events entry in the timings dict until round 10
    ("term_burstiness", text.text_term_burstiness),
    ("twfe", timeseries.stats_twoway_fixed_effects),
    ("markov_stationary", timeseries.events_markov_stationary),
    ("dup_rate_sample", dedup.dedup_sample_rate_estimate),
    ("key_discovery", quality.quality_key_discovery),
    # round-7 additions
    ("retention_cohorts", relational.events_retention_cohorts),
    ("rfm_segments", relational.customer_rfm_segments),
    ("ship_latency", relational.orders_ship_latency),
    ("cohort_ltv", relational.orders_cohort_ltv),
    ("fk_orphans", quality.quality_fk_orphans),
    ("levene_bf", quality.stats_levene_variance),
    ("ses_smoothing", timeseries.ts_exponential_smoothing),
    ("dow_seasonality", timeseries.ts_dow_seasonality),
    ("kendall_tau", timeseries.ts_kendall_tau),
    ("cross_source_overlap", training.train_cross_source_overlap),
    # round-8 additions
    ("sql_q5_text", sqlfront.sql_tpch_q5_text),
    ("sql_grouping_sets", sqlfront.sql_grouping_sets_revenue),
    ("sql_ctas_lifecycle", sqlfront.sql_view_lifecycle_ctas),
    ("sql_set_ops", sqlfront.sql_set_ops_customer_activity),
    ("corpus_release", training.train_corpus_release),
    ("mor_state", cdc_batch.cdc_merge_on_read_state),
    ("retention_curve", relational.streaming_retention_curve_replay),
    ("bm25_search", text.search_bm25_topk),
    ("link_prediction", graph.graph_link_prediction),
    ("gini_split", quality.stats_gini_split_search),
    ("mor_time_travel", cdc_batch.cdc_mor_time_travel),
    ("data_contract", quality.quality_data_contract_check),
    ("pinball_eval", quality.stats_pinball_quantile_eval),
    ("adamic_adar", graph.graph_adamic_adar_topk),
    ("g_test", quality.stats_g_test_independence),
    ("uplift_qini", quality.ab_test_uplift_qini),
    ("weighted_ares", training.sample_weighted_ares),
    ("textrank", text.text_textrank_keywords),
    ("sql_window_share", sqlfront.sql_window_running_share),
    ("anova", quality.stats_anova_oneway),
    ("kruskal_wallis", quality.stats_kruskal_wallis),
    # round-9 additions
    ("sql_not_exists", sqlfront.sql_not_exists_no_urgent),
    ("sql_scalar_subquery", sqlfront.sql_scalar_subquery_small_qty),
    ("sql_in_semijoin", sqlfront.sql_in_semijoin_returned),
    ("mor_schema_drift", cdc_batch.cdc_mor_schema_drift),
    ("compaction_zonemap", layout.layout_compaction_zonemap_audit),
    ("uplift_monitor", quality.streaming_uplift_monitor_replay),
    ("sql_pivot", sqlfront.sql_pivot_text),
    ("mann_kendall", timeseries.ts_mann_kendall_trend),
    ("dsir_importance", training.train_dsir_importance),
    ("cohens_d", quality.stats_cohens_d_effect),
    ("theils_u", quality.stats_theils_u),
    ("wilcoxon", quality.stats_wilcoxon_signed_rank),
    ("brown_des", timeseries.ts_brown_double_smoothing),
    ("page_hinkley", timeseries.ts_page_hinkley_drift),
    ("hits", graph.graph_hits_scores),
    ("sql_unpivot", sqlfront.sql_unpivot_text),
    ("col_entropy", quality.quality_column_entropy_profile),
    ("session_replay", timeseries.streaming_session_window_replay),
    ("friedman", quality.stats_friedman_test),
    ("cochran_q", quality.stats_cochran_q),
    ("bartlett", quality.stats_bartlett_variance),
    ("dkw_band", quality.stats_dkw_ecdf_band),
    ("sql_gball", sqlfront.sql_group_by_all_text),
    ("sql_values_dim", sqlfront.sql_values_inline_dim),
    ("llr_collocations", text.text_llr_collocations),
    ("durbin_watson", timeseries.ts_durbin_watson),
    ("variance_ratio", timeseries.ts_variance_ratio),
    ("modularity", graph.graph_modularity_nations),
    ("powerlaw_alpha", graph.graph_powerlaw_alpha),
    ("tga_decode", multimodal.multimodal_tga_decode),
    ("sort_advisor", layout.layout_sort_order_advisor),
    ("capture_recapture", quality.stats_capture_recapture),
    ("kanonymity", quality.quality_kanonymity_audit),
    ("ca_trend", quality.stats_cochran_armitage_trend),
    ("audio_zcr", multimodal.multimodal_audio_zcr),
    ("odds_ratio", quality.stats_odds_ratio_risk),
    ("crosscorr", timeseries.ts_crosscorr_leadlag),
    ("pair_histogram", similarity.similarity_pair_distance_histogram),
    ("sql_range_win", sqlfront.sql_range_interval_window),
    ("bloom_decon", training.train_decontaminate_bloom),
    ("image_otsu", multimodal.multimodal_image_otsu),
    ("sql_named_win", sqlfront.sql_named_window_text),
    ("cohens_kappa", quality.stats_cohens_kappa),
    ("cluster_agree", similarity.kmeans_cluster_agreement),
    ("decompose", timeseries.ts_classical_decompose),
    ("jarque_bera", quality.stats_jarque_bera),
    # round-10 coverage closure (VERDICT_r9 task #4): every registry
    # query measured >1 s at sf0.1 in the round-10 two-SF sweep now
    # has a headline entry (so cross-round wall-time history exists
    # for everything expensive), plus the round-10 additions.
    ("knn_pq_quantize", similarity.knn_pq_quantize),
    ("dedup_embedding_cosine", dedup.dedup_embedding_cosine),
    ("similarity_threshold_pairs", similarity.similarity_threshold_pairs),
    ("kmeans_lloyd_iterations", similarity.kmeans_lloyd_iterations),
    ("events_kll_quantile_rollup", relational.events_kll_quantile_rollup),
    ("dedup_cluster_stats", dedup.dedup_cluster_stats),
    ("agg_approx_sketches", relational.agg_approx_sketches),
    ("train_dataset_card", training.train_dataset_card),
    ("dedup_cluster_assign", dedup.dedup_cluster_assign),
    ("cdc_key_envelope", cdc_batch.cdc_key_envelope),
    ("sessions_interval_overlap", relational.sessions_interval_overlap),
    ("q2_min_cost_supplier", tpch_full.q2_min_cost_supplier),
    ("multimodal_image_equalize", multimodal.multimodal_image_equalize),
    ("text_langid_confusion", text.text_langid_confusion),
    ("ts_hurst_rs_exponent", timeseries.ts_hurst_rs_exponent),
    ("graph_trade_reciprocity", graph.graph_trade_reciprocity),
    ("q8_market_share", tpch_full.q8_market_share),
    ("events_countmin_heavy_hitters",
     relational.events_countmin_heavy_hitters),
    ("text_repetition_signals", text.text_repetition_signals),
    # RETIRED round 11: ("multimodal_audio_decode",
    # multimodal.audio_real_decode) duplicated the long-running
    # "audio_decode" series above (same function, two labels — the
    # same class as the round-7 "burstiness" collision, caught by
    # tests/test_bench_manifest.py). The r10/r11 rows recorded under
    # multimodal_audio_decode describe the identical query as
    # audio_decode's series; audio_decode keeps the history.
    ("hof_order_quantities", relational.hof_order_quantities),
    ("agg_exact_percentiles", relational.agg_exact_percentiles),
    ("dedup_containment", dedup.dedup_containment),
    ("agg_stats_acctbal", relational.agg_stats_acctbal),
    ("udaf_geomean_discount", relational.udaf_geomean_discount),
    ("agg_distinct_per_flag", relational.agg_distinct_per_flag),
    ("cdc_incremental_view_replay", cdc_batch.cdc_incremental_view_replay),
    ("ab_test_wilson_ci", quality.ab_test_wilson_ci),
    ("sql_filtered_agg_text", sqlfront.sql_filtered_agg_text),
]


def _relay_steady_state(spark, sf_dir: str) -> dict:
    """Run the REAL streaming relay (file source → parse → route →
    envelope → foreachBatch noop) with Trigger.AvailableNow over
    fresh checkpoints: run 1 pays the micro-batch machinery's one-time
    startup; runs 2 and 3 are warm steady-state passes. Reports
    events/sec from the warm runs so the relay's throughput is visible
    separately from the fixed startup cost.

    The canary is best-of-2 from round 11 (VERDICT r10 task #4): the
    single warm pass every cross-round adjudication leans on swung
    2.78x in the round-10 driver window while byte-identical code
    benched 0.97x builder-local — so the block now carries BOTH the
    first warm pass (relay_steady_sec, the historical like-for-like
    series) and the min of the two warm passes (relay_steady_best_sec,
    the noise-robust figure); events/sec is reported for each."""
    import shutil
    import tempfile

    from mongo_cdc_spark.cdc.pipeline import read_change_stream_files
    from mongo_cdc_spark.cdc.transform import to_kafka_records
    from mongo_cdc_spark.operators.cdc_batch import _synthetic_change_events

    events_dir = tempfile.mkdtemp(prefix="bench_cdc_events_")
    try:
        src = _synthetic_change_events(spark, sf_dir)
        src.write.mode("overwrite").text(events_dir)
        n_events = src.count()

        runs = []
        for _ in range(3):
            ckpt = tempfile.mkdtemp(prefix="bench_cdc_ckpt_")
            try:
                t0 = time.time()
                events = read_change_stream_files(spark, events_dir)
                records = to_kafka_records(events)
                q = (records.writeStream
                     .foreachBatch(lambda df, _:
                                   df.write.mode("overwrite")
                                   .format("noop").save())
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True)
                     .start())
                q.awaitTermination()
                runs.append(time.time() - t0)
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)
        cold, warm1, warm2 = runs
        best = min(warm1, warm2)
        return {
            "relay_events": n_events,
            "relay_cold_sec": round(cold, 3),
            "relay_steady_sec": round(warm1, 3),
            "relay_steady_best_sec": round(best, 3),
            "relay_startup_sec": round(max(cold - warm1, 0.0), 3),
            "relay_events_per_sec": round(n_events / warm1, 1),
            "relay_events_per_sec_best": round(n_events / best, 1),
        }
    finally:
        shutil.rmtree(events_dir, ignore_errors=True)


def _warm_session(spark, sf_dir: str) -> None:
    """Warm a fresh session: the JVM/session, the Hadoop FS/parquet
    reader paths, AND the Python/Arrow worker pool so the first timed
    query doesn't pay one-time init costs (daemon fork + Arrow IPC
    setup was ~5 s charged entirely to whichever query first used a
    pandas_udf)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(x):
        return x

    spark.range(1000).select(F.sum(_warm("id"))).collect()
    # Run the relay's batch query once at the smallest fixture so the
    # first timed label (cdc_relay) is measured warm. Warm-ups are
    # best-effort: a failure here must not void the artifact (the
    # timed loop isolates per-query anyway).
    try:
        cdc_batch.cdc_topic_routing(spark, "/root/testdata/sf0.001") \
            .write.mode("overwrite").format("noop").save()
        from mongo_cdc_spark.io import load_table
        load_table(spark, sf_dir, "region").count()
    except Exception as exc:  # noqa: BLE001
        print(f"# warmup: ERROR {type(exc).__name__}: {exc}"[:300],
              file=sys.stderr)



def _batch_probe(spark, sf_dir: str) -> float:
    """Fixed small batch probe (TPC-H q1-shape aggregate over
    lineitem), timed once after the session warm-up — the batch-path
    ambient canary (VERDICT r11 task #4). The relay
    canary is streaming + Python-bound and moved 3.2x in a window
    where batch queries moved 1.05x the OTHER way, so it does not
    proxy batch ambient; this probe runs on the same execution path
    (parquet scan -> hash agg) as the suite. Uncached (clearCache
    precedes it), single action, ~0.2-0.5 s at sf0.1."""
    from mongo_cdc_spark.io import load_table
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    t0 = time.time()
    (load_table(spark, sf_dir, "lineitem")
     .filter(F.col("l_shipdate") <= "1998-09-02")
     .groupBy("l_returnflag", "l_linestatus")
     .agg(F.sum("l_quantity").alias("sum_qty"),
          F.avg("l_extendedprice").alias("avg_price"),
          F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").format("noop").save())
    return round(time.time() - t0, 3)


def bench_reps() -> int:
    """Best-of-N count shared by bench.py and the tools that reuse its
    loop: $SPARK_GRAFT_BENCH_REPS, default 2. Single-shot numbers on
    shared local hardware swing ~±20% from scheduler noise; the
    minimum is the standard steady-state estimate (cf. JMH/timeit
    practice) and rep 2 also amortizes one-time lineage costs (cache
    fills) that a long-running deployment never re-pays."""
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))


def time_query(spark, name: str, fn, sf_dir: str,
               reps: int) -> tuple[list[float], str | None]:
    """Time `reps` noop writes of one registry query `fn` (full
    computation, no driver-side collect cost). Returns each completed
    rep's seconds and the error that stopped the reps, or None.

    Per-query fault isolation: one broken query must never void a
    whole run (round 2's events bug crashed the process and left
    BENCH_r02.json with rc=1 and no numbers), so an error is returned,
    never raised, and the caller moves on to its next query."""
    # Per-query cache isolation: headline queries in one session
    # accumulate persisted frames (_emb, edge lists, shingle
    # indexes...) until executor-memory pressure evicts/GC-churns
    # whichever query runs late in the list (observed: an 8.5 s
    # knn_pq_search in-suite vs 1.6 s isolated). Clearing BETWEEN
    # queries keeps each number position-independent; reps of the
    # SAME query still share their cache, preserving best-of-N's
    # warm-rep semantics.
    spark.catalog.clearCache()
    secs: list[float] = []
    for r in range(reps):
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — isolate & continue
            err = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {err}", file=sys.stderr)
            return secs, err
        secs.append(round(time.time() - t0, 3))
        print(f"# {name}[{r}]: {secs[-1]}s", file=sys.stderr)
    return secs, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    except ValueError:  # unrecognized dir name must not void the artifact
        sf = -1.0
    spark = get_spark("bench")
    _warm_session(spark, sf_dir)
    batch_probe: list[float] = [_batch_probe(spark, sf_dir)]
    print(f"# batch_probe: {batch_probe[0]}s", file=sys.stderr)

    # Errors are recorded per query and the JSON line is ALWAYS emitted.
    reps = bench_reps()
    timings: dict[str, float] = {}
    first_rep: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in HEADLINE:
        secs, err = time_query(spark, name, fn, sf_dir, reps)
        if secs:
            timings[name] = min(secs)
            first_rep[name] = secs[0]
        if err:
            errors[name] = err

    try:
        relay = _relay_steady_state(spark, sf_dir)
        for k, v in relay.items():
            print(f"# {k}: {v}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        relay = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        print(f"# cdc_relay_stream: ERROR {relay['error']}", file=sys.stderr)

    # Full per-query detail goes to a SIDECAR file: with 130+ headline
    # queries the single JSON line grew past the driver artifact's
    # capture window — BENCH_r04/r05.json kept only a truncated tail
    # ("parsed": null, first ~60 timings lost). The stdout line stays
    # compact (<1 KB: totals + the top-10 slowest, which is what the
    # plan audit needs) and points at the sidecar with every timing.
    detail = {
        "sf": sf,
        "reps": reps,
        # queries per session: the whole suite runs in one session
        "session_chunk": len(HEADLINE),
        "queries": timings,
        "first_rep": first_rep,
        "errors": errors,
        "cdc_relay_stream": relay,
        "batch_probe_sec": batch_probe,
    }
    detail_path = REPO / "bench_detail.json"
    try:
        detail_path.write_text(json.dumps(detail, indent=1, sort_keys=True))
    except OSError as exc:
        print(f"# sidecar write failed: {exc}", file=sys.stderr)
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": top10,
        "n_queries": len(timings),
        "sf": sf,
        "reps": reps,
        "session_chunk": len(HEADLINE),
        # single-shot (rep-0) total: rounds 1-2 were single-shot, so this
        # is the like-for-like number for cross-round comparisons; the
        # headline "value" is best-of-reps from round 3 on.
        # first_rep_n records how many queries the sum covers — a rep-0
        # failure that recovers on rep 1 would otherwise silently
        # deflate the cross-round number.
        "first_rep_total_sec": round(sum(first_rep.values()), 3),
        "first_rep_n": len(first_rep),
        "n_errors": len(errors),
        "cdc_relay_stream": relay,
        # batch ambient canary (VERDICT r11 task #4): one q1-shape
        # probe timed after the session warm-up, so cross-round
        # normalization has an instrument on the batch execution path
        # itself (the relay canary is streaming-bound). A one-entry
        # list: earlier rounds timed one probe per session restart.
        "batch_probe_sec": batch_probe,
        "detail_file": "bench_detail.json",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
