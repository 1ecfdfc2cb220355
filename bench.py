"""Benchmark harness: headline queries + flagship transcript pipeline.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "turns_per_sec": <flagship throughput>, "flagship_turns": N}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_QUERIES      (comma list; default = headline set).

Each query is materialized with the no-op sink (format("noop")) so the
full plan executes without sink I/O noise; the flagship pipeline writes
real parquet (sink included — that's the production shape).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "asof_join",
    "feature_vector_udf",
    "rolling_agg",
    "backfill_pit",
    "sessionize_gaps",
    "interval_join_shots",
    "grouped_count",
    "salted_hot_join",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "topk_similarity",
    "topk_blas",
    "ivf_ann",
    "salted_running_sum",
    "streaming_sessionize",
    "streaming_sessionize_append",
    "simhash_dedup",
    "multimodal_features",
    "multimodal_decode2d",
    "dependency_lookup",
    "tumbling_window_agg",
    "multimodal_decode_npz",
    "sequence_pack",
    "temperature_sample",
    "feature_vector_salted",
    "contamination_check",
    "repetition_stats",
    "near_dup_clusters",
    "tfidf_top_terms",
    "pit_features_core",
    # r5 additions
    "feature_vector_routed",
    "ivf_ann_indexed",
    "multimodal_decode_png",
    "multimodal_decode_jpeg",
    "streaming_dedup",
    "quota_sample",
    "unigram_quality",
    "merge_upsert",
    "doc_chunk",
    "bigram_topk",
    "corpus_shuffle",
    "dedup_incremental",
    "pit_snapshot",
    "embedding_centroids",
    "asof_join_nearest",
    "rolling_median",
    "rank_features",
    "rollup_hour_user",
    "pivot_event_matrix",
    "corpus_pipeline",
    "json_props_stats",
    "asof_join_forward",
    "user_event_profile",
    "customer_enrich",
    "lineitem_pricing",
    "order_revenue_topk",
    "snapshot_diff",
    "skew_report",
    "streaming_enrich",
    "promo_revenue",
    "supplier_balance",
    "funnel_conversion",
    "retention_cohorts",
    "decayed_features",
    "transcript_digest",
    "target_encode_pit",
    "hashed_cross",
    "holdout_last_k",
    "session_features",
    "standardize",
    "quantile_bucketize",
    "freq_encode",
    "winsorize",
    "group_kfold",
    "future_window_label",
    "tool_usage_profile",
    "bigram_quality",
    "sft_pairs",
    "context_window",
    "collapse_repeats",
    "grouped_quantiles",
    "mad_outliers",
    "feature_label_corr",
    "rolling_distinct",
    "dataset_mix",
    "pmi_collocations",
    "negative_sampling",
    "approx_profile",
    "behavior_entropy",
    "session_cooccurrence",
    "cusum_drift",
    "rolling_slope",
    "doc_pagerank",
    "streaming_interval_join",
    "weighted_sample",
    "null_profile",
    "quantile_normalize",
    "source_overlap",
    "embedding_quantize",
    "scd2_build",
    "scd2_lookup",
    "embedding_gram",
    "chunk_dedup",
    "session_paths",
    "big_orders",
    "time_travel",
    "hard_negatives",
    "psi_drift",
    "purged_folds",
    "bucketed_join",
    "overlap_join",
    "training_set_pipeline",
    "oov_rate",
    "knn_classify",
    "zorder_layout",
    "bloom_join_prune",
    "triangle_count",
    "grouping_sets_agg",
    "sliding_window_agg",
    "pareto_frontier",
    "bm25_search",
    "edit1_dedup",
    "markov_transitions",
    "rollup_merge",
    "lm_perplexity",
    "span_corruption",
    "kmv_distinct",
    "cms_heavy_hitters",
    "stopword_discovery",
    "dataset_card",
    "dup_cluster_stats",
    "lpa_communities",
    "rfm_features",
    "preference_pairs",
    "last_touch_attribution",
    "weak_labels",
    "minhash_calibration",
    "woe_encoding",
    "ann_recall_report",
    "bpe_merges",
    "winnow_fingerprints",
    "shared_passage_pairs",
    "near_dup_incremental",
    "pq_codes",
    "pq_topk",
    "pq_recall_report",
    # r5 second-half additions (hybrid retrieval / screening / eval /
    # formats); the expensive bounded-streaming entries and trivial
    # scans stay curated out — they're timed in BENCH/BASELINE.md
    "hybrid_search",
    "ks_drift",
    "chi2_select",
    "mutual_info",
    "auc_eval",
    "ndcg_eval",
    "hashed_bow",
    "packing_stats",
    "burst_windows",
    "jsonl_ingest",
    "class_weights",
    "sql_lang_report",
    "jl_project",
    "dedup_best",
    "pr_at_k",
    "bloom_export",
    "lifetime_features",
    "ngram_novelty",
    "recency_gaps",
    "response_latency",
    "rolling_autocorr",
    "pit_leak_audit",
    "hll_distinct",
    "logbucket_quantiles",
    "role_alternation",
    "km_survival",
    "calibration_bins",
    "ab_test_report",
    "dq_expectations",
    "cluster_silhouette",
    "rolling_percent_rank",
    "interval_coverage",
    "regional_revenue",
    "benford_dq",
    "cramers_v",
    "gini_activity",
    "k_anonymity",
    "zipf_slope",
    "vocab_growth",
    "transition_entropy",
    "lorenz_curve",
    "poisson_bootstrap",
    "mann_whitney",
    "ngram_diversity",
    "spearman",
    "cohen_kappa",
    "cuped_ab",
    "pii_audit",
    "char_entropy",
    "echo_rate",
    "template_openers",
    "retry_runs",
    "conv_outcomes",
    "conv_dedup",
    "macro_f1",
    "fleiss_kappa",
    "readability",
    "containment_pairs",
    "prefix_reuse",
    "length_drift",
    "charclass_profile",
    "js_unigram_divergence",
    "rare_collapse",
    "hapax_share",
    "dup_ngram_coverage",
    "refusal_rate",
    "curriculum_order",
    "periodicity_report",
    "walk_forward_splits",
    "krippendorff_alpha",
    "tokenizer_fertility",
    "pass_at_k",
    "token_entropy_rate",
    "mrr_eval",
    "compression_ratio",
    "dp_histogram",
    "token_f1_eval",
    "self_consistency",
    "truncation_loss",
    "cross_perplexity",
    "vocab_coverage",
    "tool_trigrams",
    "mixture_knapsack",
    "canary_scan",
    "slice_gap_report",
    "disorder_audit",
    "order_inversions",
    "activity_streaks",
    "join_size_estimate",
    "hashing_collisions",
    "partition_balance",
    "psi_sweep",
    "comissing_matrix",
    "fano_burstiness",
    "trending_report",
    "ending_profile",
    "code_like_rate",
    "watermark_sweep",
    "len_by_lang_grid",
    "nzv_report",
    "identical_features",
    "peak_concurrency",
    "scrub_verification",
    "time_to_k",
    # r5 seventieth-wave additions
    "forget_audit",
    "revision_distance",
    "welch_ttest",
    "kcore",
    "cosine_pairs",
    "srm_check",
    "mcc_eval",
    "l_diversity",
    "resample_ffill",
    "clustering_coeff",
    "assortativity",
    "linear_attribution",
    "blocking_quality",
    "encoding_audit",
    "multimodal_decode_wav",
    "theil_sen",
    "cold_start",
    "wilson_ctr",
    "kmv_overlap",
    "diff_in_diff",
    "mde_report",
    "anova_eta",
    "dedup_strategy_diff",
    "gibberish_rate",
    "audience_overlap",
    "link_prediction",
    "median_of_means",
    "band_join",
    "template_contamination",
    "pca_power",
    "activity_bitmap",
    "target_encode_loo",
    "resample_linear",
    "seasonal_naive",
    "centroid_drift",
    "isotonic_calibration",
    "session_gap_sweep",
    "bh_fdr",
    "ipw_ate",
    "conformal_intervals",
    "moment_profile",
    "first_touch_attribution",
    "activity_grid",
    "cliffs_delta",
    "lift_at_k",
    "odds_ratio",
    "conversion_lag",
    "new_vs_returning",
    "turn_position_profile",
    "role_latency_matrix",
    "tool_loop_report",
    "copypasta_report",
    "session_bounce_report",
    "value_by_returning",
    "dau_wau_stickiness",
]


def build_spark(cpus: int):
    from dane_visual_feature_extraction_worker_spark import EngineConfig, get_spark

    return get_spark(
        EngineConfig(
            app_name=f"bench-{cpus}",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 8),
        )
    )


def flagship(spark, sf: float, out_dir: str) -> tuple[int, float]:
    """As-of join + feature-gen over a generated transcript table at
    ~sf-proportional scale; returns (n_turns, seconds)."""
    import pyspark.sql.functions as F

    from dane_visual_feature_extraction_worker_spark.datagen import (
        gen_anchors,
        gen_transcripts,
    )
    from dane_visual_feature_extraction_worker_spark.operators.asof import (
        asof_join_union,
    )
    from dane_visual_feature_extraction_worker_spark.plans.pipeline import pit_features

    n_convs = max(int(20000 * sf), 50)
    t = gen_transcripts(spark, n_convs=n_convs, avg_turns=50, partitions=64)
    src = os.path.join(out_dir, "transcripts")
    t.write.mode("overwrite").parquet(src)
    tr = spark.read.parquet(src)
    n_turns = tr.count()

    anchors = gen_anchors(spark, tr, per_conv=4)
    anchors.write.mode("overwrite").parquet(os.path.join(out_dir, "anchors"))
    anchors = spark.read.parquet(os.path.join(out_dir, "anchors"))

    def run_once() -> float:
        t0 = time.monotonic()
        feats = pit_features(tr)
        asof = asof_join_union(
            anchors,
            tr.select("conv_id", "ts", "turn_idx", "role"),
            on="conv_id",
            left_ts="anchor_ts",
            right_order="turn_idx",
        )
        feats.write.mode("overwrite").parquet(os.path.join(out_dir, "features"))
        asof.write.mode("overwrite").parquet(os.path.join(out_dir, "asof"))
        return time.monotonic() - t0

    sec = min(run_once() for _ in range(2))  # warm best-of-2
    return n_turns, sec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = build_spark(cpus)

    import __spark_entry__ as ent

    qs = ent.queries()
    names = [
        q
        for q in os.environ.get("BENCH_QUERIES", ",".join(HEADLINE)).split(",")
        if q in qs
    ]
    timings: dict[str, float] = {}
    for name in names:
        # warm best-of-2: the first execution of a plan pays one-time
        # whole-stage-codegen JIT + parquet footer costs that are
        # irrelevant at production scale; the second run measures the
        # engine (same protocol as scripts/scaling_bench.py)
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    tmp = tempfile.mkdtemp(prefix="bench_flagship_")
    try:
        n_turns, fsec = flagship(spark, sf, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    timings["flagship_pipeline"] = round(fsec, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline query suite + as-of/feature flagship "
                f"on local[{cpus}], warm best-of-2",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "flagship_turns": n_turns,
                "turns_per_sec": round(n_turns / fsec, 1),
                # host contention evidence (VERDICT r3: per-run loadavg
                # alongside every BENCH entry)
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
