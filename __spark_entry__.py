"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (smoke check at sf0.001).
``queries()`` — one callable per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB twin for each query (t2 correctness gate).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_history_server_rs_spark.operators import (
    catalog,
    corpus,
    dedup,
    llmprep,
    multimodal,
    relational,
    similarity,
    textprep,
)
from spark_history_server_rs_spark.operators.oracles import ORACLE_SQL
from spark_history_server_rs_spark.sources import metrics_rollup
from spark_history_server_rs_spark.sources.generic import load_events, load_table


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: A1 application listing — the minimum end-to-end slice
    (scan → normalize → group → agg → sort → limit, SURVEY.md §7 phase 0)."""
    ev = load_events(spark, "/root/testdata/sf0.001")
    return catalog.applications(ev)


def _q(fn) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: fn(load_events(spark, sf_dir))


def _d(fn) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: fn(load_table(spark, sf_dir, "documents"))


def _e(fn) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: fn(load_table(spark, sf_dir, "embeddings"))


#: The registered queries whose IMPLEMENTATION changed (or whose shared
#: SQL fragments changed shape) since the last driver round. The window
#: rule below requires every entry here to sit in the first 50
#: registrations — enforced mechanically by
#: tests/test_plans.py::test_driver_window_invariant, so the class of
#: miss VERDICT r08 "What's wrong #2" flagged (a rewrite shipping
#: outside the window) fails the suite instead of relying on review.
#: Round 15 (optimization round 2): two registered queries restructured
#: around the WithCTE cache-blindness (the cache manager refuses
#: InMemoryRelation substitution in any plan holding a WithCTE node, so
#: their single-WITH spellings re-ran cached chains per CTE reference):
#: `corpus_perplexity_buckets` (per-doc surprisal relation materialized
#: once per corpus, rank fold DataFrame-composed; 4.5 → 1.4-2.2 s warm
#: at sf0.1) and `corpus_dsir_select` (scored/coarse relation
#: materialized, weights/rank fold composed; 2.8 → 0.7-0.9 s warm).
#: Both oracle-compared True at sf0.001/sf0.01 (the oracles keep the
#: one-WITH spelling — differential by construction), and both sit in
#: the r15 window below (r11 cohort). Everything else this round is
#: serving-twin plan shape (S16 `*_from_index` top-k restatement — the
#: twins are pytest-pinned result-identical to the live ops, which are
#: themselves untouched), maintenance overlap, the BPE driver-local
#: trainer's internals (bit-identical by differential+fuzz pin), test
#: suite runtime, and bench evidence plumbing.
#: `executor_summary_rollup`: its finalizer now sorts its one row per
#: executor in a single partition, as the raw twin does, instead of a
#: global range sort — same rows and order, two fewer Spark jobs per warm
#: call (5 → 3 at sf0.01); it takes the last filler slot of the window.
_CHANGED_THIS_ROUND = (
    "corpus_perplexity_buckets", "corpus_dsir_select", "executor_summary_rollup"
)

# The driver's correctness harness checks the FIRST 50 registrations only.
# Registration order is therefore a coverage schedule, not cosmetics:
#   sentinels   — 4 core-surface regression canaries (kept in-window every
#                 round per ADVICE.md) plus every query that is new or
#                 whose implementation changed this round;
#   then        — never-driver-checked ops, oldest debt first (the 22
#                 relational shapes and as many corpus/llmprep ops as
#                 fit);
#   slots 51+   — previously driver-green queries and the remaining
#                 corpus/llmprep backlog for next round's rotation (all
#                 still pytest-checked by tests/test_oracle_parity.py
#                 every session).
_SENTINELS = (
    "applications",
    "executor_summary",
    "efficiency_analysis",
    "cross_app_summary",
    # --- round 15 window -----------------------------------------------
    # the r14-verdict-#9 rotation onto the still-unchecked cohort,
    # recomputed mechanically from CORRECTNESS_r01..r14 (latest driver
    # check per registered row): ALL 33 remaining rows whose latest
    # check is r11, then the 13 alphabetically-first r12 rows to fill
    # the window. After this window no registry row's latest check
    # predates r12. Both _CHANGED_THIS_ROUND rows
    # (corpus_perplexity_buckets, corpus_dsir_select) sit in this window.
    "corpus_contamination",
    "corpus_dsir_select",
    "corpus_oov_rate",
    "corpus_pack_sequences",
    "corpus_pack_sequences_sharded",
    "corpus_perplexity_buckets",
    "corpus_source_overlap",
    "corpus_split_leakage",
    "corpus_vocabulary",
    "dedup_clusters",
    "dedup_minhash_eval",
    "dedup_ngram_jaccard_capped",
    "dedup_repeated_passages",
    "dedup_retention_ids",
    "dedup_simhash",
    "embedding_anisotropy",
    "embedding_dim_stats",
    "embedding_int8_audit",
    "embedding_kmeans_step",
    "embedding_kmeans_train",
    "embedding_semantic_dedup",
    "event_search",
    "job_metrics",
    "sessionize_events",
    "task_duration_percentiles",
    "task_skew_report",
    "text_c4_filters",
    "text_encoding_artifacts",
    "text_filter_agreement",
    "text_fingerprints",
    "text_quality_classifier",
    "tpch_q10_returned_items",
    "tpch_q1_pricing_summary",
    # window filler — the 12 alphabetically-first r12-checked rows; the
    # remaining 32 r12 rows are the r16 queue (all pytest-oracle-green
    # every session regardless)
    "ann_cosine_topk",
    "ann_crossencoder_rerank",
    "ann_hamming_rerank",
    "ann_recall_eval",
    "anti_join_no_urgent_customers",
    "applications_app_window",
    "applications_status_completed",
    "applications_time_window",
    "asof_join_task_executor_config",
    "capacity_trends",
    "capacity_trends_rollup",
    "cost_optimization",
    # changed this round (see _CHANGED_THIS_ROUND)
    "executor_summary_rollup",
)

#: round-14 window (all 50 driver-green in CORRECTNESS_r14.json;
#: pytest-oracle-checked every session) — rotates behind the r15 window
_R14_WINDOW = (
    "ann_knn_graph",
    "ann_nprobe_recall",
    "ann_truncated_recall",
    "application_info",
    "corpus_bigram_counts",
    "corpus_bigram_logprob",
    "corpus_bpe_compression",
    "corpus_bpe_encode",
    "corpus_bpe_fertility",
    "corpus_bpe_merge_step",
    "corpus_bpe_train",
    "corpus_bpe_vocab_curve",
    "corpus_curriculum_stages",
    "corpus_doremi_reweight",
    "corpus_global_shuffle",
    "corpus_length_histogram",
    "corpus_mix_plan",
    "corpus_novelty_curve",
    "corpus_pack_fragmentation",
    "corpus_semantic_source_mix",
    "corpus_span_leakage",
    "corpus_stratified_sample",
    "corpus_temperature_sample",
    "corpus_tfidf_top_terms",
    "corpus_training_manifest",
    "corpus_unigram_logprob",
    "corpus_zipf_fit",
    "count_events",
    "dedup_cluster_stats",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_keep_canonical",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_threshold_sweep",
    "embedding_outliers",
    "events_daily_anomaly",
    "events_volume_ewma",
    "job_parallelism_report",
    "table_profile_orders",
    "tpch_q12_ship_delay",
    "ann_ivf",
    "ann_lsh_bucketed",
    "ann_pq_codes",
    "ann_pq_recall",
    "corpus_chunk_documents",
)



#: rounds 1-13 window history (kept for the audit trail; these names
#: are all driver-green on their current code and rotate behind the
#: r14 window above — every one of them is still pytest-oracle-checked
#: per session by tests/test_oracle_parity.py)
_PRIOR_WINDOWS = (
    # --- round-13 window (all 50 driver-green in CORRECTNESS_r13.json;
    # pytest-oracle-checked every session) -----------------------------
    "applications",
    "executor_summary",
    "efficiency_analysis",
    "cross_app_summary",
    "resource_usage_summary_rollup",
    "cross_app_summary_rollup",
    "task_distribution_rollup",
    "applications_rollup",
    "resource_utilization_metrics_rollup",
    "corpus_hash_split",
    "corpus_profile",
    "cube_order_stats",
    "dedup_embedding_cosine_prefiltered",
    "dedup_exact",
    "event_transition_matrix",
    "events_daily_gapfill",
    "funnel_conversion",
    "multimodal_audio_windows",
    "multimodal_frame_sample",
    "multimodal_phash_groups",
    "range_join_live_executors",
    "retention_cohorts",
    "rolling_active_users",
    "semi_join_urgent_customers",
    "set_ops_user_segments",
    "task_percentile_standing",
    "text_stem_normalize",
    "topk_tasks_per_app",
    "tpch_q2_min_price_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_priority_check",
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_count",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracketed_revenue",
    "tpch_q21_waiting_supplier",
    "tpch_q22_idle_customers",
    "yoy_revenue_growth",
    "ann_graph_expand",
    "ann_graph_expand2",
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    # --- round-12 window (all 50 driver-green in CORRECTNESS_r12.json;
    # pytest-oracle-checked every session) -----------------------------
    "applications",
    "executor_summary",
    "efficiency_analysis",
    "cross_app_summary",
    "multimodal_image_decode",
    "performance_trends_rollup",
    "gc_time_trends_rollup",
    "cpu_utilization_rollup",
    "memory_usage_rollup",
    "top_resource_consumers_rollup",
    "efficiency_analysis_rollup",
    "capacity_trends_rollup",
    "cost_optimization_rollup",
    "applications_rollup",
    "executor_summary_rollup",
    "executor_utilization_rollup",
    "resource_utilization_metrics_rollup",
    "cpu_utilization",
    "capacity_trends",
    "cost_optimization",
    "embedding_power_iteration",
    "executor_utilization",
    "gc_time_trends",
    "memory_usage",
    "performance_trends",
    "resource_usage_summary",
    "resource_utilization_metrics",
    "rollup_order_stats",
    "task_distribution",
    "text_gopher_rules",
    "text_language_id",
    "text_line_boilerplate",
    "text_pii_scrub",
    "text_quality",
    "text_quality_prune",
    "text_repetition",
    "text_token_stats",
    "top_resource_consumers",
    "ann_cosine_topk",
    "ann_hamming_rerank",
    "ann_recall_eval",
    "anti_join_no_urgent_customers",
    "applications_app_window",
    "applications_status_completed",
    "applications_time_window",
    "asof_join_task_executor_config",
    "ann_crossencoder_rerank",
    "dedup_passage_index",
    "dedup_survivorship",
    "embedding_abtt_audit",
    # --- round-11 window (all 50 driver-green in CORRECTNESS_r11.json;
    # pytest-oracle-checked every session) -----------------------------
    "ann_crossencoder_rerank",
    "dedup_passage_index",
    "dedup_survivorship",
    "embedding_abtt_audit",
    "embedding_anisotropy",
    "embedding_int8_audit",
    "embedding_kmeans_step",
    "embedding_semantic_dedup",
    "event_search",
    "job_metrics",
    "sessionize_events",
    "task_duration_percentiles",
    "task_skew_report",
    "text_c4_filters",
    "text_encoding_artifacts",
    "text_filter_agreement",
    "text_fingerprints",
    "text_quality_classifier",
    "tpch_q10_returned_items",
    "tpch_q1_pricing_summary",
    "dedup_retention_ids",
    "ann_ivf",
    "ann_lsh_bucketed",
    "ann_pq_codes",
    "ann_pq_recall",
    "capacity_trends",
    "corpus_chunk_documents",
    "corpus_contamination",
    "corpus_dsir_select",
    "corpus_oov_rate",
    "corpus_pack_sequences",
    "corpus_pack_sequences_sharded",
    "corpus_perplexity_buckets",
    "corpus_source_overlap",
    "corpus_split_leakage",
    "corpus_vocabulary",
    "cost_optimization",
    "cpu_utilization",
    "dedup_clusters",
    "dedup_minhash_eval",
    "dedup_ngram_jaccard_capped",
    "dedup_repeated_passages",
    "dedup_simhash",
    "embedding_dim_stats",
    "embedding_kmeans_train",
    # --- round-10 window (all 50 driver-green in CORRECTNESS_r10.json;
    # pytest-oracle-checked every session) -----------------------------
    "ann_knn_graph",
    "ann_graph_expand",
    "ann_graph_expand2",
    "ann_nprobe_recall",
    "tpch_q12_ship_delay",
    "corpus_bigram_counts",
    "corpus_global_shuffle",
    "corpus_length_histogram",
    "corpus_stratified_sample",
    "corpus_temperature_sample",
    "corpus_training_manifest",
    "events_daily_anomaly",
    "events_volume_ewma",
    "job_parallelism_report",
    "table_profile_orders",
    "ann_truncated_recall",
    "corpus_bpe_merge_step",
    "corpus_doremi_reweight",
    "corpus_mix_plan",
    "corpus_zipf_fit",
    "embedding_outliers",
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "dedup_threshold_sweep",
    "dedup_embedding_cosine",
    "application_info",
    "corpus_bigram_logprob",
    "corpus_bpe_compression",
    "corpus_bpe_encode",
    "corpus_bpe_fertility",
    "corpus_bpe_train",
    "corpus_bpe_vocab_curve",
    "corpus_curriculum_stages",
    "corpus_novelty_curve",
    "corpus_pack_fragmentation",
    "corpus_semantic_source_mix",
    "corpus_span_leakage",
    "corpus_tfidf_top_terms",
    "corpus_unigram_logprob",
    "count_events",
    "dedup_cluster_stats",
    "dedup_containment",
    "dedup_keep_canonical",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # --- round-9 window (all 50 driver-green in CORRECTNESS_r09.json;
    # pytest-oracle-checked every session) -----------------------------
    "ann_cosine_topk",
    "ann_recall_eval",
    "ann_hamming_rerank",
    "dedup_embedding_cosine_prefiltered",
    "text_stem_normalize",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "semi_join_urgent_customers",
    "anti_join_no_urgent_customers",
    "dedup_exact",
    "multimodal_image_decode",
    "multimodal_frame_sample",
    "multimodal_audio_windows",
    "tpch_q2_min_price_supplier",
    "tpch_q4_priority_check",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_count",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracketed_revenue",
    "tpch_q21_waiting_supplier",
    "tpch_q22_idle_customers",
    "asof_join_task_executor_config",
    "range_join_live_executors",
    "topk_tasks_per_app",
    "cube_order_stats",
    "funnel_conversion",
    "retention_cohorts",
    "event_transition_matrix",
    "set_ops_user_segments",
    "rolling_active_users",
    "task_percentile_standing",
    "events_daily_gapfill",
    "yoy_revenue_growth",
    "corpus_hash_split",
    "corpus_profile",
    "applications_time_window",
    "applications_app_window",
    "applications_status_completed",
    "multimodal_phash_groups",
    # --- round-8 window (all driver-green in CORRECTNESS_r08.json on
    # code unchanged since; pytest-oracle-checked every session) -------
    "embedding_kmeans_train",
    "ann_knn_graph",
    "ann_graph_expand",
    "ann_graph_expand2",
    "dedup_simhash",
    "dedup_repeated_passages",
    "dedup_ngram_jaccard_capped",
    "ann_ivf",
    "ann_lsh_bucketed",
    "ann_pq_codes",
    "ann_pq_recall",
    "corpus_dsir_select",
    "corpus_source_overlap",
    "corpus_split_leakage",
    "text_gopher_rules",
    "text_pii_scrub",
    "embedding_power_iteration",
    "corpus_oov_rate",
    "resource_usage_summary",
    "cost_optimization",
    "performance_trends",
    "gc_time_trends",
    "cpu_utilization",
    "memory_usage",
    "task_distribution",
    "executor_utilization",
    "resource_utilization_metrics",
    "top_resource_consumers",
    "capacity_trends",
    "corpus_chunk_documents",
    "corpus_pack_sequences",
    "corpus_pack_sequences_sharded",
    "corpus_vocabulary",
    "corpus_perplexity_buckets",
    "embedding_dim_stats",
    "dedup_embedding_cosine_prefiltered",
    "dedup_clusters",
    "dedup_minhash_eval",
    "rollup_order_stats",
    "corpus_contamination",
    "text_token_stats",
    "text_language_id",
    "text_quality",
    "text_repetition",
    "text_line_boilerplate",
    "text_quality_prune",
    # round-7 slot 1: the six catalog queries displaced from the r06
    # window (all green earlier, code unchanged — closing the
    # driver-window debt the r06 verdict flagged)
    "count_events",
    "application_info",
    "task_duration_percentiles",
    "event_search",
    "job_metrics",
    "task_skew_report",
    # r06 shared-fragment refactor riders never driver-checked on the
    # refactored code (_qc_scored_ctes), all also scoped-view-migrated
    "text_quality_classifier",
    "text_c4_filters",
    "text_fingerprints",
    # new this round → first driver row (one-pass nprobe sweep)
    "ann_nprobe_recall",
    # training loop rewritten this round (bounded-lineage anchor chain);
    # bpe_encode is new (first driver row)
    "corpus_bpe_train",
    "corpus_bpe_fertility",
    "corpus_bpe_encode",
    # new this round → first driver row (per-(source,lang) tokenizer
    # compression parity; rides the trained-merge chain just re-checked
    # above); dedup_embedding_cosine_prefiltered displaced to 51+ for
    # the slot — its in-window sibling dedup_embedding_cosine
    # re-validates the shared sketch/rerank fragments (rotate r08)
    "corpus_bpe_compression",
    # new this round → first driver row (vocab-size vs fertility curve
    # across merge ranks; rides the same trained chain);
    # corpus_dsir_select displaced to 51+ for the slot — earlier green
    # r06 row stands, code unchanged since, pytest re-checks every
    # session (rotate r08)
    "corpus_bpe_vocab_curve",
    # new this round → first driver row (per-source encoding hygiene);
    # corpus_pack_sequences displaced to 51+ for the slot (rotate r08)
    "text_encoding_artifacts",
    # new this round → first driver row (rule × classifier confusion);
    # corpus_contamination displaced to 51+ for the slot (rotate r08)
    "text_filter_agreement",
)

# Round-7 re-checks: the scoped-view migration touched ~60 operators'
# view plumbing (results unchanged — pinned by the full pytest oracle
# differential every session), more than one 50-slot window holds. In
# the window: every dedup/corpus op whose SQL assembly changed shape
# (shingles_cte / materialized-df accessors), the llmprep/similarity
# ops with the most structural change, and a 4-query sample of the
# relational runner's new CTE-prologue binding (incl. tpch_q10, the
# alias-collision case the migration initially broke). Displaced to
# 51+ (rotate r08): the remaining migrated llmprep/similarity/
# relational ops + the r02-green catalog rows (cost_optimization,
# performance_trends, gc_time_trends, cpu_utilization, memory_usage,
# task_distribution, executor_utilization,
# resource_utilization_metrics, top_resource_consumers,
# capacity_trends) — all pytest-checked every session.
_ROTATED_RELATIONAL = (
    # relational runner sample (CTE-prologue table binding)
    "tpch_q1_pricing_summary",
    "tpch_q10_returned_items",
    "sessionize_events",
    # new this round → first driver row (SEQ_LEN fragmentation audit
    # riding L3's cumsum); rollup_order_stats displaced to 51+ for the
    # slot — the relational runner's CTE-prologue binding stays
    # re-validated by the three remaining samples (rotate r08)
    "corpus_pack_fragmentation",
    # dedup surface (shingles_cte + scoped accessors)
    "dedup_ngram_jaccard",
    "dedup_containment",
    # new this round → first driver row (one-pass Jaccard-threshold
    # removal curve; rides D2b's candidates just re-checked above);
    # dedup_repeated_passages displaced to 51+ for the slot — its
    # in-window sibling dedup_passage_index re-validates the shared
    # window-hash relation (rotate r08)
    "dedup_threshold_sweep",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "dedup_passage_index",
    # corpus surface (scoped tok/feat/wins accessors)
    "dedup_keep_canonical",
    # new this round → first driver row (rides C7's refactored chain);
    # corpus_vocabulary displaced to 51+ for the slot (rotate r08)
    "dedup_survivorship",
    "dedup_cluster_stats",
    "corpus_tfidf_top_terms",
    # new this round → first driver row (order-sensitive bigram-LM
    # surprisal); corpus_oov_rate displaced to 51+ for the slot — its
    # scoped-tok-accessor migration is already re-validated in-window by
    # tfidf_top_terms/unigram_logprob and the pytest differential
    # re-checks it every session (rotate r08)
    "corpus_bigram_logprob",
    "corpus_unigram_logprob",
    # new this round → first driver row (difficulty-staged sampling
    # schedule; rides C6's token cache re-checked just above);
    # corpus_split_leakage displaced to 51+ for the slot — its
    # in-window sibling corpus_span_leakage re-validates the shared
    # split/bucket fragments (rotate r08)
    "corpus_curriculum_stages",
    # new this round → first driver row (crawl-yield novelty curve);
    # corpus_perplexity_buckets displaced to 51+ for the slot — its
    # earlier green row stands and the pytest differential re-checks it
    # every session (rotate r08)
    "corpus_novelty_curve",
    "corpus_span_leakage",
    # llmprep surface (scoped docs/emb views; semantic dedup's cached
    # assigned relation moved to _materialized_df)
    # corpus_contamination + pack_sequences(+_sharded) displaced to 51+
    # (pytest-green every session; rotate r08)
    "embedding_semantic_dedup",
    "embedding_kmeans_step",
    # new this round → first driver row (k-step Lloyd training loop);
    # embedding_dim_stats displaced to 51+ for the slot (its migration
    # re-check is pytest-green every session; rotate r08)
    "embedding_kmeans_train",
    # new this round → first driver row (int8 quantization audit);
    # corpus_chunk_documents displaced to 51+ to make the slot (its
    # migration re-check is pytest-green every session; rotate r08)
    "embedding_int8_audit",
    # new this round → first driver row (O(n) exact pairwise-cosine
    # anisotropy audit); dedup_clusters displaced to 51+ for the slot —
    # its in-window rider dedup_keep_canonical re-validates the shared
    # cluster-label chain and the pytest differential re-checks it every
    # session (rotate r08)
    "embedding_anisotropy",
    # new this round → first driver row (mean-removal fix measured);
    # dedup_minhash_eval displaced to 51+ for the slot — its in-window
    # sibling dedup_minhash_lsh re-validates the shared band/signature
    # fragments (rotate r08)
    "embedding_abtt_audit",
    # similarity surface (scoped emb views, templated PQ unnest)
    "ann_ivf_pq",
    # new this round → first driver row (residual-encoded IVFADC);
    # dedup_ngram_jaccard_capped displaced to 51+ for the slot — its
    # in-window sibling dedup_ngram_jaccard re-validates the shared
    # shingle/band fragments and the pytest differential re-checks it
    # every session (rotate r08)
    "ann_ivf_pq_residual",
    # new this round → first driver row (graph-expansion ANN: bucket
    # seeds + one kNN-graph hop, seed-vs-graph recall in one pass);
    # dedup_simhash displaced to 51+ for the slot — its pigeonhole
    # fragments are pytest-green every session (rotate r08)
    "ann_graph_expand",
    # new this round → first driver row (cross-table cluster × source)
    "corpus_semantic_source_mix",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from spark_history_server_rs_spark.operators.oracles import (
        TW_APP_ID,
        TW_END_MS,
        TW_START_MS,
    )

    all_queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "applications": _q(catalog.applications),
        # P4/P5 predicate template with live parameters (start/end/app)
        "applications_time_window": _q(
            lambda ev: catalog.applications(
                catalog.time_window(ev, start_ms=TW_START_MS, end_ms=TW_END_MS)
            )
        ),
        "applications_app_window": _q(
            lambda ev: catalog.applications(
                catalog.time_window(ev, start_ms=TW_START_MS, app_id=TW_APP_ID)
            )
        ),
        # ?status / minEndDate filters applied for real (api.rs:62-99)
        "applications_status_completed": _q(
            lambda ev: catalog.applications_filtered(
                ev, statuses=["completed"], min_end_ms=TW_START_MS
            )
        ),
        "count_events": _q(catalog.count_events),
        "resource_usage_summary": _q(catalog.resource_usage_summary),
        "executor_summary": _q(catalog.executor_summary),
        "performance_trends": _q(catalog.performance_trends),
        "gc_time_trends": _q(catalog.gc_time_trends),
        "cpu_utilization": _q(catalog.cpu_utilization),
        "memory_usage": _q(catalog.memory_usage),
        # S17 rollup-served twins, one per metrics_rollup.ROLLUP_TWINS row:
        # each re-aggregates the session-cached partial relations and
        # shares its raw twin's oracle, so the oracle differential
        # proves serve-from-partials ≡ scan-from-events
        **{
            f"{name}_rollup": _q(getattr(metrics_rollup, f"{name}_rollup"))
            for name in metrics_rollup.ROLLUP_TWINS
        },
        "cross_app_summary": _q(catalog.cross_app_summary),
        "task_distribution": _q(catalog.task_distribution),
        "job_metrics": _q(catalog.job_metrics),
        "executor_utilization": _q(catalog.executor_utilization),
        "resource_utilization_metrics": _q(catalog.resource_utilization_metrics),
        "top_resource_consumers": _q(catalog.top_resource_consumers),
        "efficiency_analysis": _q(catalog.efficiency_analysis),
        "capacity_trends": _q(catalog.capacity_trends),
        "cost_optimization": _q(catalog.cost_optimization),
        "application_info": _q(catalog.application_info),
        "task_duration_percentiles": _q(catalog.task_duration_percentiles),
        "task_skew_report": _q(catalog.task_skew_report),
        "job_parallelism_report": _q(catalog.job_parallelism_report),
        "event_search": _q(catalog.event_search),
        # --- training-data pipeline: text analysis ---
        "text_token_stats": _d(textprep.token_stats),
        "text_language_id": _d(textprep.language_id),
        "text_quality": _d(textprep.text_quality),
        "text_fingerprints": _d(textprep.doc_fingerprints),
        "text_repetition": _d(textprep.repetition_signals),
        "text_quality_classifier": _d(textprep.quality_classifier),
        "text_gopher_rules": _d(textprep.gopher_rules),
        "text_c4_filters": _d(textprep.c4_filters),
        "text_line_boilerplate": _d(textprep.line_boilerplate),
        "text_quality_prune": _d(textprep.quality_prune),
        "text_encoding_artifacts": _d(textprep.encoding_artifacts),
        "text_filter_agreement": _d(textprep.filter_agreement),
        # --- training-data pipeline: deduplication ---
        "dedup_exact": _d(dedup.dedup_exact),
        "dedup_ngram_jaccard": _d(dedup.ngram_jaccard_pairs),
        "dedup_ngram_jaccard_capped": _d(dedup.ngram_jaccard_pairs_capped),
        "dedup_containment": _d(dedup.containment_pairs),
        "dedup_threshold_sweep": _d(dedup.dedup_threshold_sweep),
        "dedup_minhash_lsh": _d(dedup.minhash_lsh_pairs),
        "dedup_minhash_eval": _d(dedup.minhash_estimate_eval),
        "dedup_simhash": _d(dedup.simhash_pairs),
        "dedup_embedding_cosine": _e(dedup.embedding_cosine_dups),
        "dedup_embedding_cosine_prefiltered": _e(
            dedup.embedding_cosine_dups_prefiltered
        ),
        "dedup_repeated_passages": _d(dedup.repeated_passage_coverage),
        "dedup_passage_index": _d(dedup.duplicate_passage_index),
        # --- training-data pipeline: similarity search ---
        "ann_cosine_topk": _e(similarity.ann_cosine_topk),
        "ann_lsh_bucketed": _e(similarity.ann_lsh_bucketed),
        "ann_ivf": _e(similarity.ann_ivf),
        "ann_recall_eval": _e(similarity.ann_recall_eval),
        "ann_hamming_rerank": _e(similarity.ann_hamming_rerank),
        "ann_knn_graph": _e(similarity.ann_knn_graph),
        "ann_pq_codes": _e(similarity.ann_pq_codes),
        "ann_pq_recall": _e(similarity.ann_pq_recall),
        "ann_ivf_pq": _e(similarity.ann_ivf_pq),
        "ann_ivf_pq_residual": _e(similarity.ann_ivf_pq_residual),
        "ann_graph_expand": _e(similarity.ann_graph_expand),
        "ann_graph_expand2": _e(similarity.ann_graph_expand2),
        "ann_nprobe_recall": _e(similarity.ann_nprobe_recall),
        "ann_truncated_recall": _e(similarity.ann_truncated_recall),
        "ann_crossencoder_rerank": _e(similarity.ann_crossencoder_rerank),
        # --- training-data pipeline: multimodal plumbing ---
        "multimodal_image_decode": _d(multimodal.image_decode),
        "multimodal_frame_sample": _d(multimodal.frame_sample),
        "multimodal_audio_windows": _d(multimodal.audio_windows),
        "multimodal_phash_groups": _d(multimodal.phash_groups),
        # --- relational surface: joins / semi-anti / rollup / windows ---
        **relational.QUERIES,
        # --- corpus ops: cluster resolution, split, vocab, tf-idf ---
        "dedup_clusters": _d(corpus.dedup_clusters),
        "dedup_cluster_stats": _d(corpus.dedup_cluster_stats),
        "dedup_keep_canonical": _d(corpus.dedup_keep_canonical),
        "dedup_survivorship": _d(corpus.dedup_survivorship),
        "dedup_retention_ids": _d(corpus.dedup_retention_ids),
        "corpus_hash_split": _d(corpus.hash_split),
        "corpus_vocabulary": _d(corpus.vocabulary),
        "corpus_tfidf_top_terms": _d(corpus.tfidf_top_terms),
        "corpus_oov_rate": _d(corpus.oov_rate),
        "corpus_unigram_logprob": _d(corpus.unigram_logprob),
        "corpus_curriculum_stages": _d(corpus.curriculum_stages),
        "corpus_dsir_select": _d(corpus.dsir_select),
        "corpus_split_leakage": _d(corpus.split_leakage),
        "corpus_perplexity_buckets": _d(corpus.perplexity_buckets),
        "corpus_zipf_fit": _d(corpus.zipf_fit),
        "corpus_source_overlap": _d(corpus.source_overlap),
        "corpus_novelty_curve": _d(corpus.novelty_curve),
        "corpus_doremi_reweight": _d(corpus.doremi_reweight),
        "corpus_mix_plan": _d(corpus.mix_plan),
        "corpus_span_leakage": _d(corpus.span_leakage),
        # --- LLM training-data prep: profiling, packing, sampling,
        #     decontamination, normalization, embedding health ---
        "corpus_profile": _d(llmprep.profile_table),
        "corpus_training_manifest": _d(llmprep.training_manifest),
        "corpus_length_histogram": _d(llmprep.length_histogram),
        "corpus_bigram_counts": _d(llmprep.bigram_counts),
        "corpus_bigram_logprob": _d(llmprep.bigram_logprob),
        "corpus_pack_sequences": _d(llmprep.pack_sequences),
        "corpus_pack_fragmentation": _d(llmprep.pack_fragmentation),
        "corpus_pack_sequences_sharded": _d(llmprep.pack_sequences_sharded),
        "corpus_global_shuffle": _d(llmprep.global_shuffle),
        "corpus_stratified_sample": _d(llmprep.stratified_sample),
        "corpus_temperature_sample": _d(llmprep.temperature_sample),
        "corpus_contamination": _d(llmprep.contamination),
        "text_stem_normalize": _d(llmprep.stem_normalize),
        "text_pii_scrub": _d(llmprep.pii_scrub),
        "embedding_dim_stats": _e(llmprep.embedding_dim_stats),
        "embedding_int8_audit": _e(llmprep.embedding_int8_audit),
        "embedding_anisotropy": _e(llmprep.embedding_anisotropy),
        "embedding_abtt_audit": _e(llmprep.embedding_abtt_audit),
        "embedding_kmeans_step": _e(llmprep.kmeans_step),
        "embedding_kmeans_train": _e(llmprep.embedding_kmeans_train),
        "embedding_power_iteration": _e(llmprep.embedding_power_iteration),
        "embedding_semantic_dedup": _e(llmprep.semantic_dedup),
        # cross-table: semantic cluster (embeddings) × provenance (docs)
        "corpus_semantic_source_mix": lambda spark, sf_dir: (
            llmprep.semantic_source_mix(
                load_table(spark, sf_dir, "documents"),
                load_table(spark, sf_dir, "embeddings"),
            )
        ),
        "embedding_outliers": _e(llmprep.embedding_outliers),
        "corpus_chunk_documents": _d(llmprep.chunk_documents),
        "corpus_bpe_merge_step": _d(llmprep.bpe_merge_step),
        "corpus_bpe_train": _d(llmprep.bpe_train),
        "corpus_bpe_fertility": _d(llmprep.bpe_fertility),
        "corpus_bpe_encode": _d(llmprep.bpe_encode),
        "corpus_bpe_compression": _d(llmprep.bpe_compression),
        "corpus_bpe_vocab_curve": _d(llmprep.bpe_vocab_curve),
    }

    window = tuple(
        dict.fromkeys(
            _SENTINELS + _R14_WINDOW + _PRIOR_WINDOWS + _ROTATED_RELATIONAL
        )
    )
    ordered = {name: all_queries[name] for name in window}
    ordered.update(
        (name, fn) for name, fn in all_queries.items() if name not in ordered
    )
    return ordered


def oracle_sql() -> dict[str, str]:
    out = dict(ORACLE_SQL)
    out.update(textprep.ORACLE_SQL_TEXT)
    out.update(dedup.ORACLE_SQL_DEDUP)
    out.update(similarity.ORACLE_SQL_SIMILARITY)
    out.update(multimodal.ORACLE_SQL_MULTIMODAL)
    out.update(relational.ORACLE_SQL_RELATIONAL)
    out.update(corpus.ORACLE_SQL_CORPUS)
    out.update(llmprep.ORACLE_SQL_LLMPREP)
    return out
