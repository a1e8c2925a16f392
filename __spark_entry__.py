"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every operator row of SURVEY.md §2 that is implemented has an entry
here; ML queries (not SQL-expressible) are registered without an
oracle → rows-only check, with exact-value pytest coverage instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from activity_classifier_spark_cassandra_spark.ml import models as M
from activity_classifier_spark_cassandra_spark.operators import asof as AJ
from activity_classifier_spark_cassandra_spark.operators import cdc as C
from activity_classifier_spark_cassandra_spark.operators import coreset as CS
from activity_classifier_spark_cassandra_spark.operators import corpus as CP
from activity_classifier_spark_cassandra_spark.operators import dedup as D
from activity_classifier_spark_cassandra_spark.operators import bucketing as BK
from activity_classifier_spark_cassandra_spark.operators import bitext as BX
from activity_classifier_spark_cassandra_spark.operators import dq as DQ
from activity_classifier_spark_cassandra_spark.operators import timeseries as TS
from activity_classifier_spark_cassandra_spark.operators import transitions as TR
from activity_classifier_spark_cassandra_spark.operators import funnel as FN
from activity_classifier_spark_cassandra_spark.operators import graph as G
from activity_classifier_spark_cassandra_spark.operators import graph_ann as GA
from activity_classifier_spark_cassandra_spark.operators import multimodal as MM
from activity_classifier_spark_cassandra_spark.operators import sampling as SM
from activity_classifier_spark_cassandra_spark.operators import skew as K
from activity_classifier_spark_cassandra_spark.operators import sketches as SK
from activity_classifier_spark_cassandra_spark.operators import incremental as INC
from activity_classifier_spark_cassandra_spark.operators import layout as LY
from activity_classifier_spark_cassandra_spark.operators import manifest as MF
from activity_classifier_spark_cassandra_spark.operators import paragraphs as PG
from activity_classifier_spark_cassandra_spark.operators import paths as PA
from activity_classifier_spark_cassandra_spark.operators import projection as PJ
from activity_classifier_spark_cassandra_spark.operators import retrieval as RT
from activity_classifier_spark_cassandra_spark.operators import shuffle as SF
from activity_classifier_spark_cassandra_spark.operators import similarity as S
from activity_classifier_spark_cassandra_spark.operators import spans as SP
from activity_classifier_spark_cassandra_spark.operators import text as T
from activity_classifier_spark_cassandra_spark.operators import udaf as U
from activity_classifier_spark_cassandra_spark.operators import urls as UR
from activity_classifier_spark_cassandra_spark.plans import pipeline as P
from activity_classifier_spark_cassandra_spark.sources import io as IO
from activity_classifier_spark_cassandra_spark.plans import relational as R
from activity_classifier_spark_cassandra_spark.plans import tpch as TH
from activity_classifier_spark_cassandra_spark.streaming import ann_index as AI
from activity_classifier_spark_cassandra_spark.streaming import dedup as SD
from activity_classifier_spark_cassandra_spark.streaming import joins as SJ
from activity_classifier_spark_cassandra_spark.streaming import sessions as STR
from activity_classifier_spark_cassandra_spark.streaming import stateful as ST

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the whole reference training pipeline's dataflow
    (sessionize → window → 11-feature agg → label) as one lazy plan."""
    return P.q_session_features(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is deliberate: the driver's correctness run
    covers a 50-entry window from the front.  Round 12 rotation
    (per the round-11 verdict): first the two NEW queries
    (shingle-banded video near-dup, streaming graph-index ingest),
    then every query whose PLAN changed this round (the graph family
    under the session-scoped build memo + insert scratch cleanup;
    URL dedup under the salted hot-key hybrid), then the round-11
    additions kept in-window one more round, then the stalest
    behind-window block (last driver-checked r6-r9) fills to 50.
    Everything in-window is sweep-green at both SFs at round-12 HEAD.
    Behind the boundary: remaining stale blocks stalest-first, with
    the entries the round-11 driver just verified backmost."""
    return {
        # ==== round-12 window: NEW (shingle-banded video
        #      near-dup, streaming graph-index ingest), then every
        #      query whose PLAN changed this round (graph family:
        #      session-scoped memoized builds + insert scratch
        #      cleanup; URL dedup: salted hot-key hybrid), then the
        #      round-11 additions kept in-window one more round ====
        "q_video_near_dup_shingle": MM.q_video_near_dup_shingle,
        "q_stream_graph_ingest": AI.q_stream_graph_ingest,
        "q_knn_graph": GA.q_knn_graph,
        "q_knn_graph_q8": GA.q_knn_graph_q8,
        "q_graph_recall_eval": GA.q_graph_recall_eval,
        "q_graph_q8_recall_eval": GA.q_graph_q8_recall_eval,
        "q_knn_graph_search": GA.q_knn_graph_search,
        "q_knn_graph_insert": GA.q_knn_graph_insert,
        "q_graph_insert_policy": GA.q_graph_insert_policy,
        "q_knn_graph_routed": GA.q_knn_graph_routed,
        "q_graph_routed_recall_eval": GA.q_graph_routed_recall_eval,
        "q_knn_graph_delete": GA.q_knn_graph_delete,
        "q_knn_graph_update": GA.q_knn_graph_update,
        "q_url_dedup": UR.q_url_dedup,
        "q_bitext_mine_corpus": BX.q_bitext_mine_corpus,
        "q_video_frames": MM.q_video_frames,
        "q_video_near_dup": MM.q_video_near_dup,
        # ==== stalest fill to 50: behind-window since round 10,
        #      last driver-checked r6-r9; sweep-green at both SFs
        #      every round since ====
        "q_decontaminate_semantic": CP.q_decontaminate_semantic,
        "q_dsir_sample": CP.q_dsir_sample,
        "q_domain_mix_budget": CP.q_domain_mix_budget,
        "q_stream_dedup": SD.q_stream_dedup,
        "q_stream_join_attribution": SJ.q_stream_join_attribution,
        "q_stream_stateful": ST.q_stream_stateful,
        "q_bigram_logprob": T.q_bigram_logprob,
        "q_bm25_search": T.q_bm25_search,
        "q_group_topk_sample": SM.q_group_topk_sample,
        "q_key_skew_profile": K.q_key_skew_profile,
        "q_asof_join": AJ.q_asof_join,
        "q_range_join": AJ.q_range_join,
        "q_funnel": FN.q_funnel,
        "q_retention": FN.q_retention,
        "q_daily_active": FN.q_daily_active,
        "q_resample_gapfill": TS.q_resample_gapfill,
        "q_time_rollup": TS.q_time_rollup,
        "q_scd2": C.q_scd2,
        "q_event_transitions": TR.q_event_transitions,
        "q_bucketed_join": BK.q_bucketed_join,
        "q_salted_join": K.q_salted_join,
        "q_dq_audit": DQ.q_dq_audit,
        "q_approx_distinct": R.q_approx_distinct,
        "q_minmax_ts": R.q_minmax_ts,
        "q_range_filter": R.q_range_filter,
        "q_moving_avg": R.q_moving_avg,
        "q_lead_lag": R.q_lead_lag,
        "q_zscore_anomaly": R.q_zscore_anomaly,
        "q_session_features": P.q_session_features,
        "q_sessionize": P.q_sessionize,
        "q_session_features_3axis": P.q_session_features_3axis,
        "q_stream_session_features": STR.q_stream_session_features,
        "q_stream_windowed_features": STR.q_stream_windowed_features,
        # ==== behind the 50-entry driver window: remaining stale
        #      blocks (stalest first), then the entries the
        #      round-11/12 drivers just verified, backmost ====
        "q_ppl_buckets": T.q_ppl_buckets,
        "q_matryoshka_eval": S.q_matryoshka_eval,
        "q_semdedup": D.q_semdedup,
        "q_quality_classifier": CP.q_quality_classifier,
        "q_stream_sliding_features": STR.q_stream_sliding_features,
        "q_ml_train_eval": M.q_ml_train_eval,
        "q_ml_predict_counts": M.q_ml_predict_counts,
        "q_ml_serve": M.q_ml_serve,
        "q2_min_cost_supplier": TH.q2_min_cost_supplier,
        "q11_important_stock": TH.q11_important_stock,
        "q15_top_supplier": TH.q15_top_supplier,
        "q20_excess_suppliers": TH.q20_excess_suppliers,
        "q21_waiting_orders": TH.q21_waiting_orders,
        "q_distinct_users": R.q_distinct_users,
        "q_count_gate": R.q_count_gate,
        "q_label_encode": R.q_label_encode,
        "q_truncate_cast": R.q_truncate_cast,
        "q_string_cast": R.q_string_cast,
        "q_error_rate": R.q_error_rate,
        "q_topk": R.q_topk,
        "q_two_pass_absdev": R.q_two_pass_absdev,
        "q_resultant": R.q_resultant,
        "q_mean_var": R.q_mean_var,
        "q_distinct_agg": R.q_distinct_agg,
        "q1_pricing_summary": R.q1_pricing_summary,
        "q3_shipping_priority": R.q3_shipping_priority,
        "q4_priority_count": TH.q4_priority_count,
        "q5_local_supplier": R.q5_local_supplier,
        "q6_forecast_revenue": R.q6_forecast_revenue,
        "q7_volume_shipping": TH.q7_volume_shipping,
        "q8_market_share": TH.q8_market_share,
        "q9_product_profit": TH.q9_product_profit,
        "q10_returned_items": TH.q10_returned_items,
        "q12_late_by_priority": TH.q12_late_by_priority,
        "q13_customer_distribution": TH.q13_customer_distribution,
        "q14_promo_revenue": TH.q14_promo_revenue,
        "q16_supplier_cnt": TH.q16_supplier_cnt,
        "q17_small_quantity": R.q17_small_quantity,
        "q18_large_orders": TH.q18_large_orders,
        "q19_disjunctive": TH.q19_disjunctive,
        "q22_idle_customers": TH.q22_idle_customers,
        "q_percentiles": R.q_percentiles,
        "q_rollup": R.q_rollup,
        "q_cube": R.q_cube,
        "q_conditional_pivot": R.q_conditional_pivot,
        "q_window_rank": R.q_window_rank,
        "q_grouping_sets": R.q_grouping_sets,
        "q_ntile_dist": R.q_ntile_dist,
        "q_unpivot": R.q_unpivot,
        "q_approx_sketch": R.q_approx_sketch,
        "q_pack_greedy": CP.q_pack_greedy,
        "q_jsonl_roundtrip": IO.q_jsonl_roundtrip,
        "q_phash_near_dup": MM.q_phash_near_dup,
        "q_span_dedup_apply": SP.q_span_dedup_apply,
        "q_jpeg_features": MM.q_jpeg_features,
        "q_jpeg_decode": MM.q_jpeg_decode,
        "q_triangle_count": G.q_triangle_count,
        "q_knn_binary": S.q_knn_binary,
        "q_orc_roundtrip": IO.q_orc_roundtrip,
        "q_stream_simhash_near_dup": SD.q_stream_simhash_near_dup,
        "q_semdedup_blas": D.q_semdedup,  # same operator, kept name
        "q_span_dedup_multik": SP.q_span_dedup_multik,
        "q_coreset_kcenter": CS.q_coreset_kcenter,
        "q_jl_recall_eval": PJ.q_jl_recall_eval,
        "q_csv_roundtrip": IO.q_csv_roundtrip,
        "q_paragraph_dedup": PG.q_paragraph_dedup,
        "q_heavy_hitters_cms": SK.q_heavy_hitters_cms,
        "q_bloom_join_prune": SK.q_bloom_join_prune,
        "q_incremental_agg": INC.q_incremental_agg,
        "q_zorder_layout": LY.q_zorder_layout,
        "q_bpe_pair_stats": T.q_bpe_pair_stats,
        "q_temperature_sample": CP.q_temperature_sample,
        "q_span_dedup": SP.q_span_dedup,
        "q_file_prune_manifest": MF.q_file_prune_manifest,
        "q_weighted_sample": SM.q_weighted_sample,
        "q_pagerank": G.q_pagerank,
        "q_skipgram_pairs": T.q_skipgram_pairs,
        "q_session_paths": PA.q_session_paths,
        "q_pmi_collocations": T.q_pmi_collocations,
        "q_shuffle_sample": SF.q_shuffle_sample,
        "q_snapshot_diff": C.q_snapshot_diff,
        "q_user_trend": TS.q_user_trend,
        "q_label_centroids": S.q_label_centroids,
        "q_schema_evolution": IO.q_schema_evolution,
        "q_simhash_near_dup": D.q_simhash_near_dup,
        "q_dedup_clusters": G.q_dedup_clusters,
        "q_knn_ivf_multiprobe": S.q_knn_ivf_multiprobe,
        "q_corpus_pipeline": G.q_corpus_pipeline,
        "q_dedup_ngram_jaccard": D.q_dedup_ngram_jaccard,
        "q_dedup_exact": D.q_dedup_exact,
        "q_dedup_minhash": D.q_dedup_minhash,
        "q_simhash": D.q_simhash,
        "q_dedup_embedding": D.q_dedup_embedding,
        "q_dedup_keep_best": D.q_dedup_keep_best,
        "q_corpus_clean": D.q_corpus_clean,
        "q_text_stats": T.q_text_stats,
        "q_knn_brute": S.q_knn_brute,
        "q_lang_id": T.q_lang_id,
        "q_knn_ivf": S.q_knn_ivf,
        "q_knn_lsh": S.q_knn_lsh,
        "q_token_count": T.q_token_count,
        "q_doc_fingerprint": T.q_doc_fingerprint,
        "q_tfidf_top_terms": T.q_tfidf_top_terms,
        "q_redact": T.q_redact,
        "q_repetition_ratio": T.q_repetition_ratio,
        "q_unigram_logprob": T.q_unigram_logprob,
        "q_knn_pandas": S.q_knn_pandas,
        "q_media_features": MM.q_media_features,
        "q_sample_hash": SM.q_sample_hash,
        "q_train_test_split": SM.q_train_test_split,
        "q_user_holdout": SM.q_user_holdout,
        "q_stratified_sample": SM.q_stratified_sample,
        "q_broadcast_dim_join": R.q_broadcast_dim_join,
        "q_anti_join": R.q_anti_join,
        "q_semi_join": R.q_semi_join,
        "q_union_distinct": R.q_union_distinct,
        "q_pandas_udaf": U.q_pandas_udaf,
        "q_salted_agg": K.q_salted_agg,
        "q_upsert_compact": C.q_upsert_compact,
        "q_histogram": R.q_histogram,
        "q_profile": R.q_profile,
        "q_decontaminate": CP.q_decontaminate,
        # (verified in the round-11 driver window / round-12 sweeps)
        "q_stream_url_dedup": SD.q_stream_url_dedup,
        "q_bitext_mine": BX.q_bitext_mine,
        "q_span_dedup_longest": SP.q_span_dedup_longest,
        "q_span_dedup_apply_longest": SP.q_span_dedup_apply_longest,
        "q_chunk_sequences": CP.q_chunk_sequences,
        "q_domain_mix": CP.q_domain_mix,
        "q_knn_ivf_trained": S.q_knn_ivf_trained,
        "q_bpe_merges": T.q_bpe_merges,
        "q_bpe_tokenize": T.q_bpe_tokenize,
        "q_bpe_compression": T.q_bpe_compression,
        "q_upsert_with_deletes": C.q_upsert_with_deletes,
        "q_int8_quantize": S.q_int8_quantize,
        "q_knn_int8": S.q_knn_int8,
        "q_contrastive_triplets": S.q_contrastive_triplets,
        "q_knn_pq": S.q_knn_pq,
        "q_drift_psi": DQ.q_drift_psi,
        "q_dedup_recall_eval": D.q_dedup_recall_eval,
        "q_ann_recall_eval": S.q_ann_recall_eval,
        "q_hard_negatives": S.q_hard_negatives,
        "q_session_features_skewres": P.q_session_features_skewres,
        "q_quality_funnel": CP.q_quality_funnel,
        "q_incremental_dedup": CP.q_incremental_dedup,
        "q_knn_ivfpq": S.q_knn_ivfpq,
        "q_audio_features": MM.q_audio_features,
        "q_hybrid_search_rrf": RT.q_hybrid_search_rrf,
        "q_mmr_rerank": RT.q_mmr_rerank,
        "q_dedup_edit_distance": D.q_dedup_edit_distance,
        "q_ndcg_eval": RT.q_ndcg_eval,
        "q_pca_power": S.q_pca_power,
        "q_dedup_minhash_cc": D.q_dedup_minhash_cc,
        "q_winnow_overlap": D.q_winnow_overlap,
        "q_kn_logprob": T.q_kn_logprob,
        "q_dsir_weights": CP.q_dsir_weights,
        "q_gopher_rules": T.q_gopher_rules,
        "q_dedup_apply": D.q_dedup_apply,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_sessionize": P.SESSIONIZE_SQL,
        "q_session_features": P.SESSION_FEATURES_SQL,
        "q_session_features_skewres": P.SESSION_FEATURES_SQL,
        "q_session_features_3axis": P.SESSION_FEATURES_3AXIS_SQL,
        "q_stream_session_features": STR.STREAM_SESSION_FEATURES_SQL,
        "q_stream_windowed_features": STR.STREAM_WINDOWED_FEATURES_SQL,
        "q_stream_dedup": SD.STREAM_DEDUP_SQL,
        "q_stream_join_attribution": SJ.STREAM_JOIN_ATTRIBUTION_SQL,
        "q_distinct_users": R.DISTINCT_USERS_SQL,
        "q_count_gate": R.COUNT_GATE_SQL,
        "q_minmax_ts": R.MINMAX_TS_SQL,
        "q_range_filter": R.RANGE_FILTER_SQL,
        "q_label_encode": R.LABEL_ENCODE_SQL,
        "q_truncate_cast": R.TRUNCATE_CAST_SQL,
        "q_string_cast": R.STRING_CAST_SQL,
        "q_error_rate": R.ERROR_RATE_SQL,
        "q_topk": R.TOPK_SQL,
        "q_two_pass_absdev": R.TWO_PASS_ABSDEV_SQL,
        "q_resultant": R.RESULTANT_SQL,
        "q_mean_var": R.MEAN_VAR_SQL,
        "q_distinct_agg": R.DISTINCT_AGG_SQL,
        "q_percentiles": R.PERCENTILES_SQL,
        "q_rollup": R.ROLLUP_SQL,
        "q_cube": R.CUBE_SQL,
        "q_moving_avg": R.MOVING_AVG_SQL,
        "q_lead_lag": R.LEAD_LAG_SQL,
        "q_conditional_pivot": R.CONDITIONAL_PIVOT_SQL,
        "q_window_rank": R.WINDOW_RANK_SQL,
        "q_grouping_sets": R.GROUPING_SETS_SQL,
        "q_ntile_dist": R.NTILE_DIST_SQL,
        "q_unpivot": R.UNPIVOT_SQL,
        "q_zscore_anomaly": R.ZSCORE_ANOMALY_SQL,
        "q_upsert_compact": C.UPSERT_COMPACT_SQL,
        "q_histogram": R.HISTOGRAM_SQL,
        "q_profile": R.PROFILE_SQL,
        "q1_pricing_summary": R.Q1_SQL,
        "q3_shipping_priority": R.Q3_SQL,
        "q5_local_supplier": R.Q5_SQL,
        "q6_forecast_revenue": R.Q6_SQL,
        "q17_small_quantity": R.Q17_SQL,
        "q4_priority_count": TH.Q4_SQL,
        "q7_volume_shipping": TH.Q7_SQL,
        "q8_market_share": TH.Q8_SQL,
        "q9_product_profit": TH.Q9_SQL,
        "q10_returned_items": TH.Q10_SQL,
        "q12_late_by_priority": TH.Q12_SQL,
        "q13_customer_distribution": TH.Q13_SQL,
        "q14_promo_revenue": TH.Q14_SQL,
        "q16_supplier_cnt": TH.Q16_SQL,
        "q18_large_orders": TH.Q18_SQL,
        "q22_idle_customers": TH.Q22_SQL,
        "q2_min_cost_supplier": TH.Q2_SQL,
        "q11_important_stock": TH.Q11_SQL,
        "q15_top_supplier": TH.Q15_SQL,
        "q19_disjunctive": TH.Q19_SQL,
        "q20_excess_suppliers": TH.Q20_SQL,
        "q21_waiting_orders": TH.Q21_SQL,
        "q_broadcast_dim_join": R.BROADCAST_DIM_JOIN_SQL,
        "q_anti_join": R.ANTI_JOIN_SQL,
        "q_semi_join": R.SEMI_JOIN_SQL,
        "q_union_distinct": R.UNION_DISTINCT_SQL,
        "q_asof_join": AJ.ASOF_JOIN_SQL,
        "q_range_join": AJ.RANGE_JOIN_SQL,
        "q_pandas_udaf": U.PANDAS_UDAF_SQL,
        "q_salted_agg": K.SALTED_AGG_SQL,
        "q_funnel": FN.FUNNEL_SQL,
        "q_retention": FN.RETENTION_SQL,
        "q_daily_active": FN.DAILY_ACTIVE_SQL,
        "q_sample_hash": SM.SAMPLE_HASH_SQL,
        "q_train_test_split": SM.TRAIN_TEST_SPLIT_SQL,
        "q_user_holdout": SM.USER_HOLDOUT_SQL,
        "q_stratified_sample": SM.STRATIFIED_SAMPLE_SQL,
        "q_dedup_exact": D.DEDUP_EXACT_SQL,
        "q_dedup_ngram_jaccard": D.DEDUP_NGRAM_JACCARD_SQL,
        "q_dedup_minhash": D.DEDUP_MINHASH_SQL,
        "q_simhash": D.SIMHASH_SQL,
        "q_simhash_near_dup": D.SIMHASH_NEAR_DUP_SQL,
        "q_dedup_embedding": D.DEDUP_EMBEDDING_SQL,
        "q_dedup_keep_best": D.DEDUP_KEEP_BEST_SQL,
        "q_corpus_clean": D.CORPUS_CLEAN_SQL,
        "q_dedup_clusters": G.dedup_clusters_sql(),
        "q_corpus_pipeline": G.corpus_pipeline_sql(),
        "q_text_stats": T.TEXT_STATS_SQL,
        "q_lang_id": T.LANG_ID_SQL,
        "q_token_count": T.TOKEN_COUNT_SQL,
        "q_doc_fingerprint": T.DOC_FINGERPRINT_SQL,
        "q_tfidf_top_terms": T.TFIDF_TOP_TERMS_SQL,
        "q_redact": T.REDACT_SQL,
        "q_repetition_ratio": T.REPETITION_RATIO_SQL,
        "q_unigram_logprob": T.UNIGRAM_LOGPROB_SQL,
        "q_media_features": MM.MEDIA_FEATURES_SQL,
        "q_audio_features": MM.AUDIO_FEATURES_SQL,
        "q_phash_near_dup": MM.PHASH_NEAR_DUP_SQL,
        "q_span_dedup_apply": SP.SPAN_DEDUP_APPLY_SQL,
        "q_jpeg_features": MM.JPEG_FEATURES_SQL,
        "q_knn_graph": GA.KNN_GRAPH_SQL,
        "q_knn_graph_search": GA.KNN_GRAPH_SEARCH_SQL,
        "q_jpeg_decode": MM.JPEG_DECODE_SQL,
        "q_triangle_count": G.TRIANGLE_COUNT_SQL,
        "q_knn_binary": S.KNN_BINARY_SQL,
        "q_orc_roundtrip": IO.ORC_ROUNDTRIP_SQL,
        "q_graph_recall_eval": GA.GRAPH_RECALL_EVAL_SQL,
        "q_stream_simhash_near_dup": D.SIMHASH_NEAR_DUP_SQL,
        "q_knn_graph_insert": GA.KNN_GRAPH_INSERT_SQL,
        "q_graph_insert_policy": GA.GRAPH_INSERT_POLICY_SQL,
        "q_span_dedup_multik": SP.SPAN_DEDUP_MULTIK_SQL,
        "q_coreset_kcenter": CS.CORESET_KCENTER_SQL,
        "q_jl_recall_eval": PJ.JL_RECALL_EVAL_SQL,
        "q_csv_roundtrip": IO.CSV_ROUNDTRIP_SQL,
        "q_paragraph_dedup": PG.PARAGRAPH_DEDUP_SQL,
        "q_knn_graph_q8": GA.KNN_GRAPH_Q8_SQL,
        "q_graph_q8_recall_eval": GA.GRAPH_Q8_RECALL_EVAL_SQL,
        "q_knn_graph_routed": GA.KNN_GRAPH_ROUTED_SQL,
        "q_graph_routed_recall_eval": GA.GRAPH_ROUTED_RECALL_EVAL_SQL,
        "q_span_dedup_longest": SP.SPAN_DEDUP_LONGEST_SQL,
        "q_url_dedup": UR.URL_DEDUP_SQL,
        "q_span_dedup_apply_longest": SP.SPAN_DEDUP_APPLY_LONGEST_SQL,
        "q_stream_url_dedup": SD.STREAM_URL_DEDUP_SQL,
        "q_bitext_mine": BX.BITEXT_MINE_SQL,
        "q_bitext_mine_corpus": BX.BITEXT_MINE_CORPUS_SQL,
        "q_knn_graph_delete": GA.KNN_GRAPH_DELETE_SQL,
        "q_knn_graph_update": GA.KNN_GRAPH_UPDATE_SQL,
        "q_video_frames": MM.VIDEO_FRAMES_SQL,
        "q_video_near_dup": MM.VIDEO_NEAR_DUP_SQL,
        "q_video_near_dup_shingle": MM.VIDEO_NEAR_DUP_SHINGLE_SQL,
        # bit-equal to the one-shot re-embed by batching-invariance
        # (streaming/ann_index.py) -> shares the update oracle
        "q_stream_graph_ingest": GA.KNN_GRAPH_UPDATE_SQL,
        "q_hybrid_search_rrf": RT.HYBRID_SEARCH_RRF_SQL,
        "q_mmr_rerank": RT.MMR_RERANK_SQL,
        "q_dedup_edit_distance": D.DEDUP_EDIT_DISTANCE_SQL,
        "q_ndcg_eval": RT.NDCG_EVAL_SQL,
        "q_pca_power": S.PCA_POWER_SQL,
        "q_dedup_minhash_cc": D.DEDUP_MINHASH_CC_SQL,
        "q_winnow_overlap": D.WINNOW_OVERLAP_SQL,
        "q_kn_logprob": T.KN_LOGPROB_SQL,
        "q_dsir_weights": CP.DSIR_WEIGHTS_SQL,
        "q_gopher_rules": T.GOPHER_RULES_SQL,
        "q_dedup_apply": D.DEDUP_APPLY_SQL,
        "q_semdedup": D.SEMDEDUP_SQL,
        # same exact-fold replay gates the BLAS production variant:
        # d2 is 6-dp rounded on both paths, assignments are integers,
        # centroid updates are decimal-exact over them (see docstring)
        "q_semdedup_blas": D.SEMDEDUP_SQL,
        "q_quality_classifier": CP.QUALITY_CLASSIFIER_SQL,
        "q_decontaminate_semantic": CP.DECONTAMINATE_SEMANTIC_SQL,
        "q_dsir_sample": CP.DSIR_SAMPLE_SQL,
        "q_domain_mix_budget": CP.DOMAIN_MIX_BUDGET_SQL,
        "q_ppl_buckets": T.PPL_BUCKETS_SQL,
        "q_matryoshka_eval": S.MATRYOSHKA_EVAL_SQL,
        "q_knn_brute": S.KNN_BRUTE_SQL,
        "q_knn_ivf": S.KNN_IVF_SQL,
        # identical semantics, Arrow/Pandas-UDF execution path
        "q_knn_pandas": S.KNN_BRUTE_SQL,
        "q_decontaminate": CP.DECONTAMINATE_SQL,
        "q_chunk_sequences": CP.CHUNK_SEQUENCES_SQL,
        "q_domain_mix": CP.DOMAIN_MIX_SQL,
        "q_quality_funnel": CP.QUALITY_FUNNEL_SQL,
        "q_incremental_dedup": CP.INCREMENTAL_DEDUP_SQL,
        "q_knn_lsh": S.KNN_LSH_SQL,
        "q_knn_ivf_multiprobe": S.KNN_IVF_MULTIPROBE_SQL,
        "q_knn_ivf_trained": S.KNN_IVF_TRAINED_SQL,
        "q_int8_quantize": S.INT8_QUANTIZE_SQL,
        "q_knn_int8": S.KNN_INT8_SQL,
        "q_contrastive_triplets": S.CONTRASTIVE_TRIPLETS_SQL,
        "q_knn_pq": S.KNN_PQ_SQL,
        "q_knn_ivfpq": S.KNN_IVFPQ_SQL,
        "q_drift_psi": DQ.DRIFT_PSI_SQL,
        "q_dedup_recall_eval": D.DEDUP_RECALL_EVAL_SQL,
        "q_ann_recall_eval": S.ANN_RECALL_EVAL_SQL,
        "q_hard_negatives": S.HARD_NEGATIVES_SQL,
        "q_resample_gapfill": TS.RESAMPLE_GAPFILL_SQL,
        "q_scd2": C.SCD2_SQL,
        "q_dq_audit": DQ.DQ_AUDIT_SQL,
        "q_event_transitions": TR.EVENT_TRANSITIONS_SQL,
        "q_time_rollup": TS.TIME_ROLLUP_SQL,
        "q_bucketed_join": BK.BUCKETED_JOIN_SQL,
        "q_approx_distinct": R.APPROX_DISTINCT_SQL,
        "q_approx_sketch": R.APPROX_SKETCH_SQL,
        "q_jsonl_roundtrip": IO.JSONL_ROUNDTRIP_SQL,
        "q_stream_stateful": ST.STREAM_STATEFUL_SQL,
        "q_stream_sliding_features": STR.STREAM_SLIDING_FEATURES_SQL,
        "q_bigram_logprob": T.BIGRAM_LOGPROB_SQL,
        "q_bm25_search": T.BM25_SEARCH_SQL,
        "q_group_topk_sample": SM.GROUP_TOPK_SAMPLE_SQL,
        "q_key_skew_profile": K.KEY_SKEW_PROFILE_SQL,
        "q_salted_join": K.SALTED_JOIN_SQL,
        # FFD packing replayed exactly as a DuckDB recursive CTE —
        # the last non-ML entry to gain a value-hash oracle.
        "q_pack_greedy": CP.PACK_GREEDY_SQL,
        # Round-5 additions: the md5-based hashes make the sketches
        # engine-portable, so the oracles replay them exactly; the
        # bloom-pruned join and the state merge are checked against
        # the plain join / full recompute they must equal.
        "q_heavy_hitters_cms": SK.HEAVY_HITTERS_CMS_SQL,
        "q_bloom_join_prune": SK.BLOOM_JOIN_PRUNE_SQL,
        "q_incremental_agg": INC.INCREMENTAL_AGG_SQL,
        "q_zorder_layout": LY.ZORDER_LAYOUT_SQL,
        "q_bpe_pair_stats": T.BPE_PAIR_STATS_SQL,
        "q_bpe_merges": T.BPE_MERGES_SQL,
        "q_bpe_tokenize": T.BPE_TOKENIZE_SQL,
        "q_bpe_compression": T.BPE_COMPRESSION_SQL,
        "q_upsert_with_deletes": C.UPSERT_WITH_DELETES_SQL,
        "q_temperature_sample": CP.TEMPERATURE_SAMPLE_SQL,
        "q_span_dedup": SP.SPAN_DEDUP_SQL,
        "q_file_prune_manifest": MF.FILE_PRUNE_MANIFEST_SQL,
        "q_weighted_sample": SM.WEIGHTED_SAMPLE_SQL,
        "q_pagerank": G.PAGERANK_SQL,
        "q_skipgram_pairs": T.SKIPGRAM_PAIRS_SQL,
        "q_session_paths": PA.SESSION_PATHS_SQL,
        "q_pmi_collocations": T.PMI_COLLOCATIONS_SQL,
        "q_shuffle_sample": SF.SHUFFLE_SAMPLE_SQL,
        "q_snapshot_diff": C.SNAPSHOT_DIFF_SQL,
        "q_user_trend": TS.USER_TREND_SQL,
        "q_label_centroids": S.LABEL_CENTROIDS_SQL,
        "q_schema_evolution": IO.SCHEMA_EVOLUTION_SQL,
        # q_ml_train_eval / q_ml_predict_counts / q_ml_serve: rows-only.
    }
