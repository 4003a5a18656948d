"""The query catalog: every oracle-gated key is registered here, once.

``CATALOG`` maps each key to ``(q_fn, ORACLE_SQL)``: the Spark query
(``q_*`` in catalog_queries.py or catalog_registry.py) and the DuckDB
SQL it must match (``SQL_*`` constants and ``_sql_*()`` functions in
catalog_oracles.py or catalog_oracles2.py). ``QUERIES`` and ``ORACLES``
are derived from it; ``THROUGHPUT_QUERIES`` holds the few keys with no
SQL-expressible oracle. Import everything from here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog_queries import *  # noqa: F401,F403
from .catalog_registry import *  # noqa: F401,F403
from .catalog_oracles import *  # noqa: F401,F403
from .catalog_oracles2 import *  # noqa: F401,F403
from .catalog_oracles import (
    _sql_corpus_clean,
    _sql_corpus_clean_v2,
    _sql_dedup_keep_best,
    _sql_lang_id,
    _sql_plan_corpus_train,
    _sql_quality,
)
from .catalog_oracles2 import (
    _sql_curation_report,
    _sql_dedup_incr_lsh,
    _sql_dedup_provenance_incr_near,
    _sql_dedup_substring,
    _sql_gopher,
    _sql_kmeans_step,
    _sql_op_bootstrap_ci,
    _sql_op_bpe_batch_elect,
    _sql_op_bpe_encode_bytes_registered,
    _sql_op_bpe_encode_gpt2_registered,
    _sql_op_bpe_encode_registered,
    _sql_op_bpe_merge_step,
    _sql_op_gpt2_pretok,
    _sql_op_probe_step,
    _sql_op_score_calibration,
    _sql_op_shard_assign,
    _sql_op_unigram_estep_registered,
    _sql_plan_bpe_train,
    _sql_plan_corpus_datasheet,
    _sql_plan_filter_agreement,
    _sql_plan_kmeans_train,
    _sql_plan_provenance_report,
    _sql_plan_quality_train,
    _sql_semdedup_clean,
    _sql_semdedup_incr,
    _sql_stream_quality_gate,
    _sql_stream_token_meter,
    _sql_text_c4_badwords,
    _sql_text_contamination_coverage,
    _sql_text_quality_classifier,
    _sql_text_span_dedup,
    _sql_text_stupid_backoff,
    _sql_text_unigram_segment_registered,
    _sql_text_winnow,
    _sql_text_wordpiece_encode_registered,
)
from .plans.inventory import INVENTORY_RUN_SQL
from .plans.report import ALERT_REPORT_EVENTS_SQL

Query = Callable[[SparkSession, str], DataFrame]

# One entry per key: (Spark query, DuckDB oracle). A key may share
# another key's oracle when both compute the same result: IVF in exact
# mode (nprobe == nc) is brute-force top-k; the *-arrow keys run the
# fold engines' computation on the mapInPandas engine; stream-incr-near
# drains to the batch dedup-incremental pair set; the frozen-index
# dedup-provenance-incr-near-inv is the direct form by construction.
#
# The order is the order the correctness gate samples (see _R15_WINDOW):
# the window's 50 keys go first, the rest follow in this table's order,
# stalest driver row first.
CATALOG: dict[str, tuple[Query, str]] = {
    "dedup-minhash-recall-sampled": (
        q_dedup_minhash_recall_sampled, SQL_DEDUP_MINHASH_RECALL_SAMPLED),
    "op-ab-srm": (q_op_ab_srm, SQL_OP_AB_SRM),
    "plan-corpus-report": (q_plan_corpus_report, SQL_PLAN_CORPUS_REPORT),
    "op-union-all": (q_op_union_all, SQL_OP_UNION_ALL),
    "op-lit-cols": (q_op_lit_cols, SQL_OP_LIT_COLS),
    "op-json-flatten": (q_op_json_flatten, SQL_OP_JSON_FLATTEN),
    "op-struct-access": (q_op_struct_access, SQL_OP_STRUCT_ACCESS),
    "op-array-index": (q_op_array_index, SQL_OP_ARRAY_INDEX),
    "op-empty-guard": (q_op_empty_guard, SQL_OP_EMPTY_GUARD),
    "op-foreach-group": (q_op_foreach_group, SQL_OP_FOREACH_GROUP),
    "op-upper": (q_op_upper, SQL_OP_UPPER),
    "op-urlencode": (q_op_urlencode, SQL_OP_URLENCODE),
    "src-url-gen": (q_src_url_gen, SQL_SRC_URL_GEN),
    "op-distinct": (q_op_distinct, SQL_OP_DISTINCT),
    "op-intersect": (q_op_intersect, SQL_OP_INTERSECT),
    "op-except": (q_op_except, SQL_OP_EXCEPT),
    "op-rollup": (q_op_rollup, SQL_OP_ROLLUP),
    "op-apply-in-pandas": (q_op_apply_in_pandas, SQL_OP_APPLY_IN_PANDAS),
    "op-udtf-chunk": (q_op_udtf_chunk, SQL_OP_UDTF_CHUNK),
    "op-pandas-udaf": (q_op_pandas_udaf, SQL_OP_PANDAS_UDAF),
    "op-map-functions": (q_op_map_functions, SQL_OP_MAP_FUNCTIONS),
    "op-percentiles": (q_op_percentiles, SQL_OP_PERCENTILES),
    "op-pivot": (q_op_pivot, SQL_OP_PIVOT),
    "op-window-running-sum": (
        q_op_window_running_sum, SQL_OP_WINDOW_RUNNING_SUM),
    "op-cube": (q_op_cube, SQL_OP_CUBE),
    "op-grouping-sets": (q_op_grouping_sets, SQL_OP_GROUPING_SETS),
    "op-window-rank": (q_op_window_rank, SQL_OP_WINDOW_RANK),
    "op-semi-anti-join": (q_op_semi_anti_join, SQL_OP_SEMI_ANTI_JOIN),
    "op-unpivot": (q_op_unpivot, SQL_OP_UNPIVOT),
    "op-string-functions": (q_op_string_functions, SQL_OP_STRING_FUNCTIONS),
    "op-array-functions": (q_op_array_functions, SQL_OP_ARRAY_FUNCTIONS),
    "op-sample-hash": (q_op_sample_hash, SQL_OP_SAMPLE_HASH),
    "dedup-ngram-jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "sink-rollback": (q_sink_rollback, SQL_SINK_ROLLBACK),
    "dedup-exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup-minhash-md5": (q_dedup_minhash_md5, SQL_DEDUP_MINHASH_MD5),
    "dedup-simhash-md5": (q_dedup_simhash_md5, SQL_DEDUP_SIMHASH_MD5),
    "dedup-simhash-md5-pairs": (
        q_dedup_simhash_md5_pairs, SQL_DEDUP_SIMHASH_MD5_PAIRS),
    "dedup-embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup-embedding-lsh": (q_dedup_embedding_lsh, SQL_DEDUP_EMBEDDING_LSH),
    "dedup-clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup-clusters-star": (q_dedup_clusters_star, SQL_DEDUP_CLUSTERS),
    "dedup-incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "sim-bruteforce-topk": (q_sim_bruteforce_topk, SQL_SIM_BRUTEFORCE_TOPK),
    "sim-lsh-topk": (q_sim_lsh_topk, SQL_SIM_LSH_TOPK),
    "sim-ivf-topk": (q_sim_ivf_topk, SQL_SIM_BRUTEFORCE_TOPK),
    "text-token-count": (q_text_token_count, SQL_TEXT_TOKEN_COUNT),
    "text-lang-id": (q_text_lang_id, _sql_lang_id()),
    "text-quality": (q_text_quality, _sql_quality()),
    "text-fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text-top-tokens": (q_text_top_tokens, SQL_TEXT_TOP_TOKENS),
    "text-pii-redact": (q_text_pii_redact, SQL_TEXT_PII_REDACT),
    "text-repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text-contamination": (q_text_contamination, SQL_TEXT_CONTAMINATION),
    "text-pack-sequences": (q_text_pack_sequences, SQL_TEXT_PACK_SEQUENCES),
    "text-tfidf-top-terms": (q_text_tfidf, SQL_TEXT_TFIDF),
    "text-temperature-sample": (
        q_text_temperature_sample, SQL_TEXT_TEMPERATURE_SAMPLE),
    "multimodal-decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal-frame-sample": (
        q_multimodal_frame_sample, SQL_MULTIMODAL_FRAME_SAMPLE),
    "src-backoff": (q_src_backoff, SQL_SRC_BACKOFF),
    "plan-corpus-clean": (q_plan_corpus_clean, _sql_corpus_clean()),
    "plan-corpus-clean-v2": (q_plan_corpus_clean_v2, _sql_corpus_clean_v2()),
    "plan-corpus-train": (q_plan_corpus_train, _sql_plan_corpus_train()),
    "plan-alert-report": (q_plan_alert_report, ALERT_REPORT_EVENTS_SQL),
    "stream-window-agg": (q_stream_window_agg, SQL_STREAM_WINDOW_AGG),
    "stream-sliding-window": (
        q_stream_sliding_window, SQL_STREAM_SLIDING_WINDOW),
    "stream-session-window": (
        q_stream_session_window, SQL_STREAM_SESSION_WINDOW),
    "stream-stateful-totals": (q_stream_stateful, SQL_STREAM_STATEFUL),
    "stream-stream-join": (q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "stream-dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "stream-sink-parquet": (q_stream_sink_parquet, SQL_STREAM_SINK_PARQUET),
    "stream-static-join": (q_stream_static_join, SQL_STREAM_STATIC_JOIN),
    "stream-upsert": (q_stream_upsert, SQL_STREAM_UPSERT),
    "src-stream-alerts": (q_src_stream_alerts, SQL_SRC_STREAM_ALERTS),
    "pd-filter-range": (q_pd_filter_range, SQL_PD_FILTER_RANGE),
    "op-derive-ts": (q_op_derive_ts, SQL_OP_DERIVE_TS),
    "op-sessionize": (q_op_sessionize, SQL_OP_SESSIONIZE),
    "op-range-join": (q_op_range_join, SQL_OP_RANGE_JOIN),
    "op-time-rollup": (q_op_time_rollup, SQL_OP_TIME_ROLLUP),
    "op-max-concurrency": (q_op_max_concurrency, SQL_OP_MAX_CONCURRENCY),
    "op-window-range-frame": (
        q_op_window_range_frame, SQL_OP_WINDOW_RANGE_FRAME),
    "op-incremental-agg": (q_op_incremental_agg, SQL_OP_INCREMENTAL_AGG),
    "sketch-quantile": (q_sketch_quantile, SQL_SKETCH_QUANTILE),
    "sketch-cms-topk": (q_sketch_cms_topk, SQL_SKETCH_CMS_TOPK),
    "op-math-functions": (q_op_math_functions, SQL_OP_MATH_FUNCTIONS),
    "op-date-functions": (q_op_date_functions, SQL_OP_DATE_FUNCTIONS),
    "op-null-functions": (q_op_null_functions, SQL_OP_NULL_FUNCTIONS),
    "sql-subqueries": (q_sql_subqueries, SQL_SQL_SUBQUERIES),
    "op-profile": (q_op_profile, SQL_OP_PROFILE),
    "op-corrupt-capture": (q_op_corrupt_capture, SQL_OP_CORRUPT_CAPTURE),
    "op-zorder-layout": (q_op_zorder_layout, SQL_OP_ZORDER_LAYOUT),
    "op-schema-evolution": (q_op_schema_evolution, SQL_OP_SCHEMA_EVOLUTION),
    "op-compact-files": (q_op_compact_files, SQL_OP_COMPACT_FILES),
    "tpch-q4": (q_tpch_q4, SQL_TPCH_Q4),
    "tpch-q7": (q_tpch_q7, SQL_TPCH_Q7),
    "tpch-q10": (q_tpch_q10, SQL_TPCH_Q10),
    "tpch-q14": (q_tpch_q14, SQL_TPCH_Q14),
    "tpch-q15": (q_tpch_q15, SQL_TPCH_Q15),
    "tpch-q17": (q_tpch_q17, SQL_TPCH_Q17),
    "tpch-q18": (q_tpch_q18, SQL_TPCH_Q18),
    "plan-inventory-report": (q_plan_inventory_report, INVENTORY_RUN_SQL),
    "plan-e2e-alert": (q_plan_e2e_alert, SQL_PLAN_E2E_ALERT),
    "src-login": (q_src_login, SQL_SRC_LOGIN),
    "src-get-json": (q_src_get_json, SQL_SRC_GET_JSON),
    "src-paginated-post": (q_src_paginated_post, SQL_SRC_PAGINATED_POST),
    "sink-csv": (q_sink_csv, SQL_SINK_CSV),
    "sink-partition": (q_sink_partition, SQL_SINK_PARTITION),
    "op-linreg-group": (q_op_linreg_group, SQL_OP_LINREG_GROUP),
    "op-table-checksum": (q_op_table_checksum, SQL_OP_TABLE_CHECKSUM),
    "dedup-passage-exact": (q_dedup_passage_exact, SQL_DEDUP_PASSAGE_EXACT),
    "dedup-passage-pairs": (q_dedup_passage_pairs, SQL_DEDUP_PASSAGE_PAIRS),
    "stream-funnel": (q_stream_funnel, SQL_STREAM_FUNNEL),
    "plan-multimodal-dedup": (
        q_plan_multimodal_dedup, SQL_PLAN_MULTIMODAL_DEDUP),
    "sketch-kmv-union": (q_sketch_kmv_union, SQL_SKETCH_KMV_UNION),
    "asof-join-forward": (q_asof_join_forward, SQL_ASOF_JOIN_FORWARD),
    "op-fuzzy-join": (q_op_fuzzy_join, SQL_OP_FUZZY_JOIN),
    "op-outlier-mad": (q_op_outlier_mad, SQL_OP_OUTLIER_MAD),
    "text-bigram-lift": (q_text_bigram_lift, SQL_TEXT_BIGRAM_LIFT),
    "op-funnel": (q_op_funnel, SQL_OP_FUNNEL),
    "op-retention": (q_op_retention, SQL_OP_RETENTION),
    "op-expectations": (q_op_expectations, SQL_OP_EXPECTATIONS),
    "op-winsorized-mean": (q_op_winsorized_mean, SQL_OP_WINSORIZED_MEAN),
    "op-table-diff": (q_op_table_diff, SQL_OP_TABLE_DIFF),
    "multimodal-resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal-embed": (q_multimodal_embed, SQL_MULTIMODAL_EMBED),
    "op-string-agg": (q_op_string_agg, SQL_OP_STRING_AGG),
    "op-window-percent": (q_op_window_percent, SQL_OP_WINDOW_PERCENT),
    "op-cumulative-distinct": (
        q_op_cumulative_distinct, SQL_OP_CUMULATIVE_DISTINCT),
    "op-fuzzy-canonicalize": (
        q_op_fuzzy_canonicalize, SQL_OP_FUZZY_CANONICALIZE),
    "op-gap-fill": (q_op_gap_fill, SQL_OP_GAP_FILL),
    "op-scd2": (q_op_scd2, SQL_OP_SCD2),
    "op-window-lag-lead": (q_op_window_lag_lead, SQL_OP_WINDOW_LAG_LEAD),
    "op-histogram": (q_op_histogram, SQL_OP_HISTOGRAM),
    "op-merge-upsert": (q_op_merge_upsert, SQL_OP_MERGE_UPSERT),
    "op-stratified-sample": (q_op_stratified_sample, SQL_OP_STRATIFIED_SAMPLE),
    "text-bigram-counts": (q_text_bigram_counts, SQL_TEXT_BIGRAM_COUNTS),
    "op-interval-merge": (q_op_interval_merge, SQL_OP_INTERVAL_MERGE),
    "asof-join-nearest": (q_asof_join_nearest, SQL_ASOF_JOIN_NEAREST),
    "dedup-keep-best": (q_dedup_keep_best, _sql_dedup_keep_best()),
    "plan-stream-report": (q_plan_stream_report, SQL_PLAN_STREAM_REPORT),
    "asof-join": (q_asof_join, SQL_ASOF_JOIN),
    "op-variant-json": (q_op_variant_json, SQL_OP_VARIANT_JSON),
    "sketch-kmv-distinct": (q_sketch_kmv_distinct, SQL_SKETCH_KMV_DISTINCT),
    "tpch-q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch-q3": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch-q5": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch-q6": (q_tpch_q6, SQL_TPCH_Q6),
    "top-k-per-group": (q_top_k_per_group, SQL_TOP_K_PER_GROUP),
    "op-salted-join": (q_op_salted_join, SQL_OP_SALTED_JOIN),
    "pd-filter-eq": (q_pd_filter_eq, SQL_PD_FILTER_EQ),
    "pd-filter-in": (q_pd_filter_in, SQL_PD_FILTER_IN),
    "pd-sort": (q_pd_sort, SQL_PD_SORT),
    "pd-limit-page": (q_pd_limit_page, SQL_PD_LIMIT_PAGE),
    "pd-groupby": (q_pd_groupby, SQL_PD_GROUPBY),
    "op-groupagg-count": (q_op_groupagg_count, SQL_OP_GROUPAGG_COUNT),
    "op-project-rename": (q_op_project_rename, SQL_OP_PROJECT_RENAME),
    "op-fillna": (q_op_fillna, SQL_OP_FILLNA),
    "plan-feature-store": (q_plan_feature_store, SQL_PLAN_FEATURE_STORE),
    "plan-rag-context": (q_plan_rag_context, SQL_PLAN_RAG_CONTEXT),
    "dedup-minhash-recall": (q_dedup_minhash_recall, SQL_DEDUP_MINHASH_RECALL),
    "stream-drift": (q_stream_drift, SQL_STREAM_DRIFT),
    "op-markov-eval": (q_op_markov_eval, SQL_OP_MARKOV_EVAL),
    "op-te-calibration": (q_op_te_calibration, SQL_OP_TE_CALIBRATION),
    "op-negative-sample": (q_op_negative_sample, SQL_OP_NEGATIVE_SAMPLE),
    "op-auc": (q_op_auc, SQL_OP_AUC),
    "sim-lsh-recall": (q_sim_lsh_recall, SQL_SIM_LSH_RECALL),
    "plan-session-features": (
        q_plan_session_features, SQL_PLAN_SESSION_FEATURES),
    "op-drift-ks": (q_op_drift_ks, SQL_OP_DRIFT_KS),
    "op-drift-bins": (q_op_drift_bins, SQL_OP_DRIFT_BINS),
    "op-gini-diversity": (q_op_gini_diversity, SQL_OP_GINI_DIVERSITY),
    "op-cramers-v": (q_op_cramers_v, SQL_OP_CRAMERS_V),
    "text-lm-likelihood": (q_text_lm_likelihood, SQL_TEXT_LM_LIKELIHOOD),
    "op-knn-classify": (q_op_knn_classify, SQL_OP_KNN_CLASSIFY),
    "op-item-cf": (q_op_item_cf, SQL_OP_ITEM_CF),
    "op-target-encode": (q_op_target_encode, SQL_OP_TARGET_ENCODE),
    "op-chi2-terms": (q_op_chi2_terms, SQL_OP_CHI2_TERMS),
    "op-welch-ttest": (q_op_welch_ttest, SQL_OP_WELCH_TTEST),
    "op-weighted-sample": (q_op_weighted_sample, SQL_OP_WEIGHTED_SAMPLE),
    "op-markov-transitions": (
        q_op_markov_transitions, SQL_OP_MARKOV_TRANSITIONS),
    "op-benford": (q_op_benford, SQL_OP_BENFORD),
    "op-key-profile": (q_op_key_profile, SQL_OP_KEY_PROFILE),
    "op-anomaly-seasonal": (q_op_anomaly_seasonal, SQL_OP_ANOMALY_SEASONAL),
    "sim-quantize-int8": (q_sim_quantize_int8, SQL_SIM_QUANTIZE_INT8),
    "op-bloom-prefilter": (q_op_bloom_prefilter, SQL_OP_BLOOM_PREFILTER),
    "tpch-q2": (q_tpch_q2, SQL_TPCH_Q2),
    "tpch-q9": (q_tpch_q9, SQL_TPCH_Q9),
    "tpch-q11": (q_tpch_q11, SQL_TPCH_Q11),
    "tpch-q16": (q_tpch_q16, SQL_TPCH_Q16),
    "tpch-q20": (q_tpch_q20, SQL_TPCH_Q20),
    "tpch-q8": (q_tpch_q8, SQL_TPCH_Q8),
    "tpch-q12": (q_tpch_q12, SQL_TPCH_Q12),
    "tpch-q13": (q_tpch_q13, SQL_TPCH_Q13),
    "tpch-q19": (q_tpch_q19, SQL_TPCH_Q19),
    "tpch-q21": (q_tpch_q21, SQL_TPCH_Q21),
    "tpch-q22": (q_tpch_q22, SQL_TPCH_Q22),
    "dedup-prefix-jaccard": (q_dedup_prefix_jaccard, SQL_DEDUP_PREFIX_JACCARD),
    "text-bm25-topk": (q_text_bm25_topk, SQL_TEXT_BM25_TOPK),
    "op-triangle-count": (q_op_triangle_count, SQL_OP_TRIANGLE_COUNT),
    "op-pagerank": (q_op_pagerank, SQL_OP_PAGERANK),
    "op-skyline": (q_op_skyline, SQL_OP_SKYLINE),
    "dedup-containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "op-graph-bfs": (q_op_graph_bfs, SQL_OP_GRAPH_BFS),
    "plan-leakproof-split": (q_plan_leakproof_split, SQL_PLAN_LEAKPROOF_SPLIT),
    "op-group-cap": (q_op_group_cap, SQL_OP_GROUP_CAP),
    "op-equidepth-histogram": (
        q_op_equidepth_histogram, SQL_OP_EQUIDEPTH_HISTOGRAM),
    "sim-multiprobe-topk": (q_sim_multiprobe_topk, SQL_SIM_MULTIPROBE_TOPK),
    "stream-trending-topk": (q_stream_trending_topk, SQL_STREAM_TRENDING_TOPK),
    "op-linreg2-group": (q_op_linreg2_group, SQL_OP_LINREG2_GROUP),
    "op-ndcg-retrieval": (q_op_ndcg_retrieval, SQL_OP_NDCG_RETRIEVAL),
    "op-cohens-kappa": (q_op_cohens_kappa, SQL_OP_COHENS_KAPPA),
    "plan-corpus-mix": (q_plan_corpus_mix, SQL_PLAN_CORPUS_MIX),
    "text-vocab-coverage": (q_text_vocab_coverage, SQL_TEXT_VOCAB_COVERAGE),
    "sim-embed-centroids": (q_sim_embed_centroids, SQL_SIM_EMBED_CENTROIDS),
    "op-mrr-retrieval": (q_op_mrr_retrieval, SQL_OP_MRR_RETRIEVAL),
    "op-rrf-fusion": (q_op_rrf_fusion, SQL_OP_RRF_FUSION),
    "plan-hybrid-retrieval": (
        q_plan_hybrid_retrieval, SQL_PLAN_HYBRID_RETRIEVAL),
    "text-dsir-score": (q_text_dsir_score, SQL_TEXT_DSIR_SCORE),
    "text-novelty": (q_text_novelty, SQL_TEXT_NOVELTY),
    "sim-semdedup": (q_sim_semdedup, SQL_SIM_SEMDEDUP),
    "sim-silhouette": (q_sim_silhouette, SQL_SIM_SILHOUETTE),
    "text-gopher-rules": (q_text_gopher_rules, _sql_gopher()),
    "plan-curation-report": (q_plan_curation_report, _sql_curation_report()),
    "text-corpus-tv": (q_text_corpus_tv, SQL_TEXT_CORPUS_TV),
    "plan-semdedup-clean": (q_plan_semdedup_clean, _sql_semdedup_clean()),
    "op-k-anonymity": (q_op_k_anonymity, SQL_OP_K_ANONYMITY),
    "stream-quality-gate": (q_stream_quality_gate, _sql_stream_quality_gate()),
    "sim-semdedup-incr": (q_sim_semdedup_incr, _sql_semdedup_incr()),
    "op-wma": (q_op_wma, SQL_OP_WMA),
    "op-corr-matrix": (q_op_corr_matrix, SQL_OP_CORR_MATRIX),
    "sim-kmeans-step": (q_sim_kmeans_step, _sql_kmeans_step()),
    "plan-kmeans-train": (q_plan_kmeans_train, _sql_plan_kmeans_train()),
    "op-train-split": (q_op_train_split, SQL_OP_TRAIN_SPLIT),
    "op-bootstrap-ci": (q_op_bootstrap_ci, _sql_op_bootstrap_ci()),
    "text-contamination-coverage": (
        q_text_contamination_coverage, _sql_text_contamination_coverage()),
    "text-c4-rules": (q_text_c4_rules, SQL_TEXT_C4_RULES),
    "dedup-substring": (q_dedup_substring, _sql_dedup_substring()),
    "op-bpe-merge-step": (q_op_bpe_merge_step, _sql_op_bpe_merge_step()),
    "plan-bpe-train": (q_plan_bpe_train, _sql_plan_bpe_train()),
    "text-quality-classifier": (
        q_text_quality_classifier, _sql_text_quality_classifier()),
    "text-c4-badwords": (q_text_c4_badwords, _sql_text_c4_badwords()),
    "text-span-dedup": (q_text_span_dedup, _sql_text_span_dedup()),
    "op-probe-step": (q_op_probe_step, _sql_op_probe_step()),
    "plan-quality-train": (q_plan_quality_train, _sql_plan_quality_train()),
    "text-ccnet-buckets": (q_text_ccnet_buckets, SQL_TEXT_CCNET_BUCKETS),
    "text-winnow-fingerprints": (q_text_winnow, _sql_text_winnow()),
    "op-bcubed-eval": (q_op_bcubed_eval, SQL_OP_BCUBED_EVAL),
    "text-stupid-backoff": (q_text_stupid_backoff, _sql_text_stupid_backoff()),
    "plan-filter-agreement": (
        q_plan_filter_agreement, _sql_plan_filter_agreement()),
    "op-bpe-encode": (q_op_bpe_encode, _sql_op_bpe_encode_registered()),
    "op-shard-assign": (q_op_shard_assign, _sql_op_shard_assign()),
    "text-unigram-segment": (
        q_text_unigram_segment, _sql_text_unigram_segment_registered()),
    "op-unigram-estep": (
        q_op_unigram_estep, _sql_op_unigram_estep_registered()),
    "text-wordpiece-encode": (
        q_text_wordpiece_encode, _sql_text_wordpiece_encode_registered()),
    "plan-corpus-datasheet": (
        q_plan_corpus_datasheet, _sql_plan_corpus_datasheet()),
    "op-vocab-growth": (q_op_vocab_growth, SQL_OP_VOCAB_GROWTH),
    "op-score-calibration": (
        q_op_score_calibration, _sql_op_score_calibration()),
    "sim-embedding-outliers": (
        q_sim_embedding_outliers, SQL_SIM_EMBEDDING_OUTLIERS),
    "stream-token-meter": (q_stream_token_meter, _sql_stream_token_meter()),
    "op-bpe-encode-arrow": (
        q_op_bpe_encode_arrow, _sql_op_bpe_encode_registered()),
    "text-unigram-segment-arrow": (
        q_text_unigram_segment_arrow, _sql_text_unigram_segment_registered()),
    "text-wordpiece-encode-arrow": (
        q_text_wordpiece_encode_arrow,
        _sql_text_wordpiece_encode_registered()),
    "op-bpe-batch-elect": (q_op_bpe_batch_elect, _sql_op_bpe_batch_elect()),
    "dedup-provenance": (q_dedup_provenance, SQL_DEDUP_PROVENANCE),
    "dedup-provenance-near": (
        q_dedup_provenance_near, SQL_DEDUP_PROVENANCE_NEAR),
    "dedup-provenance-incremental": (
        q_dedup_provenance_incremental, SQL_DEDUP_PROVENANCE_INCR),
    "dedup-provenance-incr-near": (
        q_dedup_provenance_incr_near, _sql_dedup_provenance_incr_near()),
    "dedup-provenance-incr-near-inv": (
        q_dedup_provenance_incr_near_inv, _sql_dedup_provenance_incr_near()),
    "plan-provenance-report": (
        q_plan_provenance_report, _sql_plan_provenance_report()),
    "stream-provenance": (q_stream_provenance, SQL_STREAM_PROVENANCE),
    "op-bpe-encode-bytes": (
        q_op_bpe_encode_bytes, _sql_op_bpe_encode_bytes_registered()),
    "op-gpt2-pretok": (q_op_gpt2_pretok, _sql_op_gpt2_pretok()),
    "op-bpe-encode-gpt2": (
        q_op_bpe_encode_gpt2, _sql_op_bpe_encode_gpt2_registered()),
    "stream-incr-near": (q_stream_incr_near, SQL_DEDUP_INCREMENTAL),
    "dedup-incr-lsh-inv": (q_dedup_incr_lsh_inv, _sql_dedup_incr_lsh()),
}

# The driver's correctness gate walks QUERIES in insertion order and
# checks exactly the first 50 entries, so the window below IS the
# round's driver-verification contract.
#
# WINDOW PRECEDENCE (standing rule, r11 verdict #1): (1) keys whose
# CURRENT plan has no driver row — new keys and replaced-plan keys —
# ALWAYS outrank merely-stale keys; (2) then the stalest tier,
# oldest driver row first; (3) alphabetical within a tier. A key
# whose plan changes mid-round after the window is set leads the
# NEXT round's window. scripts/selfcheck.py re-verifies the FULL
# catalog locally regardless of the window.
#
# r15 executes the r14 VERDICT's #8 item: first the 3 keys whose plan
# changed THIS round after the r14 gate ran (the shared
# quality/contamination corpus frame — plan-corpus-train and
# plan-corpus-clean-v2 — and sim-ivf-topk's query-side slim-vec
# persist); then the 19 keys whose plan changed in r14 but whose
# newest driver row predates that change (the graph persists, the
# text-quality translate/isin rewrite and its consumers, the
# persisted-frame sweep, and the three keys the join-strategy config
# was tuned on — their default strategy flipped again this round with
# the static SHJ gate going opt-in), alphabetical; then the 28
# alphabetically-first keys of the 44-key r9 stale tier. The 16
# remaining r9-tier keys (src-get-json .. tpch-q7) lead the next
# window's stale tier, then the r10 tier (41 keys).
#
# Rotation arithmetic: 274 gated keys / 50 slots = 5.5 rounds per
# full cycle — the "no key older than rN-5" bar holds only if
# new-key growth stays within ~10 slots per 5 rounds (r15 adds 0).
_R15_WINDOW = [
    # plan changed this round (r15) — no driver row for the current plan
    "plan-corpus-train",
    "plan-corpus-clean-v2",
    "sim-ivf-topk",
    # plan changed in r14 after the key's newest driver row, alphabetical
    "dedup-embedding-lsh",
    "dedup-prefix-jaccard",
    "op-graph-bfs",
    "op-item-cf",
    "op-negative-sample",
    "op-pagerank",
    "op-te-calibration",
    "op-triangle-count",
    "op-vocab-growth",
    "plan-multimodal-dedup",
    "plan-provenance-report",
    "plan-rag-context",
    "sim-embedding-outliers",
    "text-ccnet-buckets",
    "text-lang-id",
    "text-lm-likelihood",
    "text-quality",
    "text-stupid-backoff",
    "tpch-q5",
    # the 28 alphabetically-first r9-tier keys (stalest tier)
    "op-compact-files",
    "op-corrupt-capture",
    "op-date-functions",
    "op-derive-ts",
    "op-incremental-agg",
    "op-math-functions",
    "op-max-concurrency",
    "op-null-functions",
    "op-probe-step",
    "op-profile",
    "op-range-join",
    "op-schema-evolution",
    "op-sessionize",
    "op-time-rollup",
    "op-window-range-frame",
    "op-zorder-layout",
    "pd-filter-eq",
    "pd-filter-in",
    "pd-filter-range",
    "plan-e2e-alert",
    "plan-filter-agreement",
    "plan-inventory-report",
    "plan-quality-train",
    "sink-csv",
    "sink-partition",
    "sketch-cms-topk",
    "sketch-quantile",
    "sql-subqueries",
]
assert len(_R15_WINDOW) == 50, len(_R15_WINDOW)
QUERIES: dict[str, Query] = {
    k: CATALOG[k][0]
    for k in _R15_WINDOW + [k for k in CATALOG if k not in _R15_WINDOW]}
ORACLES: dict[str, str] = {k: CATALOG[k][1] for k in QUERIES}

# Throughput queries with no ANSI-SQL-expressible oracle (float k-means
# codebooks, HLL / GK internals, float EM M-steps). Not part of the
# oracle gate: invariant tests pin them instead, and the sketches have
# an oracle-gated KMV/sample twin in CATALOG.
THROUGHPUT_QUERIES: dict[str, Query] = {
    "sim-pq-topk": q_sim_pq_topk,
    "sketch-hll-distinct": q_sketch_hll_distinct,
    "sketch-gk-quantile": q_sketch_quantile_gk,
    "plan-unigram-train": q_plan_unigram_train,
}
