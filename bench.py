#!/usr/bin/env python
"""Benchmark harness: runs EVERY catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], writes the full
record to .benchmarks/bench_sf{sf}.json, and prints the full JSON line
followed by a compact totals-only JSON line (LAST, so tail-truncating
captures always keep a parseable record). The headline metric (`value` /
`value_warm`) sums only the curated HEADLINE subset so it stays comparable
round-over-round; `full_catalog_total` covers everything. Warm times are
min-of-2 back-to-back executions; the record carries loadavg and wall-clock
stamps so external host load on an anomalous entry is visible.

Each query is forced through the `noop` sink so the full physical plan
executes (a bare .count() would let Catalyst prune projections away) without
paying collect/serialization costs.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (SURVEY §2 coverage), weighted toward
# the plans whose scale behavior matters most (fact-fact joins, LSH dedup,
# similarity search, the MapReduce parity path).
HEADLINE = [
    "events_survival_km",
    "graph_modularity",
    "pipeline_dataset_hash",
    "scalar_variant",
    "udf_udtf_analyze",
    "multimodal_patch_features",
    "agg_mann_kendall",
    "pipeline_truncation_loss",
    "source_python_custom",
    "embedding_silhouette",
    "layout_skipping_audit",
    "join_geo_grid_knn",
    "join_ip_cidr_lpm",
    "agg_skew_kurtosis",
    "eval_confusion_multiclass",
    "join_jaro_winkler",
    "graph_link_prediction",
    "agg_theil_sen_trend",
    "text_readability",
    "orders_assoc_rules",
    "events_srm_check",
    "agg_mutual_information",
    "window_bollinger_bands",
    "multimodal_wav_tone_probe",
    "agg_cramers_v",
    "pipeline_cv_folds",
    "pipeline_dp_counts",
    "eval_rank_kendall",
    "graph_label_propagation",
    "agg_spearman_corr",
    "events_autocorrelation",
    "events_xcorr_leadlag",
    "events_spectral_energy",
    "eval_isotonic_calibration",
    "retrieval_rrf_hybrid",
    "graph_kcore",
    "window_holt_forecast",
    "window_rolling_mad_flag",
    "orders_cohort_repeat_rate",
    "embedding_pca_power",
    "diag_pk_uniqueness",
    "events_rate_spike",
    "mr_inverted_index",
    "lineitem_open_daily",
    "agg_ols_two_feature",
    "window_rolling_median",
    "agg_abc_classification",
    "agg_equidepth_histogram",
    "events_hourweek_profile",
    "events_snapshot_asof",
    "graph_component_sizes",
    "text_nucleus_vocab",
    "events_active_users_rolling",
    "events_type_diversity",
    "events_drawdown_max",
    "events_gap_burstiness",
    "events_funnel_ttc",
    "skyline_pareto_orders",
    "diag_referential_orphans",
    "text_vocab_oov_rate",
    "graph_reachability_bfs",
    "text_novelty_score",
    "events_survival_curve",
    "dedup_methods_overlap",
    "pipeline_importance_weights",
    "diag_distribution_drift",
    "dedup_semdedup",
    "multimodal_phash_dedup",
    "layout_hilbert_key",
    "pipeline_quality_ablate",
    "diag_join_explosion",
    "orders_market_basket",
    "agg_gini_concentration",
    "agg_benford_profile",
    "events_attribution_multi_touch",
    "embedding_kmeans_iterate",
    "window_zscore_rolling",
    "join_asof_nearest",
    "dedup_cross_source_matrix",
    "events_attribution_last_touch",
    "events_cohort_ltv",
    "dedup_minhash_est_vs_exact",
    "window_ewma",
    "window_cusum_detect",
    "events_markov_transitions",
    "events_rfm_segments",
    "text_quality_classifier",
    "pipeline_seqlen_histogram",
    "embedding_dim_stats",
    "graph_degree_stats",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q9_product_profit",
    "q12_ship_delay",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "join_broadcast_dim",
    "join_left_outer",
    "agg_cube",
    "window_rank_topn",
    "window_running_sum",
    "topk_orders",
    "scalar_json",
    "events_tumbling_10min",
    "events_sessions",
    "charcount",
    "wordcount",
    "token_bpe_ish",
    "text_quality",
    "dedup_exact_groups",
    "dedup_minhash_signature",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "embedding_norms",
    "ann_topk_cosine",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "similarity_pairs_blocked",
    "salted_token_counts",
    "pipeline_clean_corpus",
    "multimodal_decode_stats",
    "mr_charcount",
    # round 2 additions
    "dedup_cluster_resolve",
    "multimodal_embed_ann",
    "text_bigram_topk",
    "events_gapfill_ffill",
    "join_fuzzy_name",
    "pipeline_upsert_latest",
    # round 2, second wave
    "join_fuzzy_symdel",
    "events_funnel",
    "events_retention",
    "events_pattern_burst",
    "text_inverted_index",
    "join_salted_skew",
    "pipeline_merge_scd",
    "ann_pq_topk",
    "dedup_span_exact",
    # round 3 additions
    "ann_ivf_topk_probe2",
    "pipeline_corpus_e2e",
    "text_repetition_stats",
    "pipeline_pii_scrub",
    "pipeline_domain_filter",
    "text_tfidf_topk",
    "sample_domain_mix",
    # round 4 additions
    "events_interval_join",
    "join_bloom_prefilter",
    "dedup_url_canonical",
    "pipeline_shard_output",
    "pipeline_dataset_card",
    "text_ngram_lm_score",
    "events_anomaly_mad",
    "dedup_corpus_materialize",
    # round 4, second wave
    "text_heavy_hitters_mg",
    "dedup_simhash_pairs",
    "ann_range_search",
    "pipeline_snapshot_diff",
    "agg_covar_regr",
    "layout_zorder_key",
    # round 5 additions (r04 catalog latecomers — the incremental-admit path
    # is the nightly-crawl admission workload)
    "events_ohlc_hourly",
    "dedup_incremental_admit",
    "events_interval_join_mixed",
    "multimodal_decode_real",
    # round 5, second wave
    "dedup_chunk_exact",
    "dedup_ngram_containment",
    "pipeline_token_budget_mix",
    "join_asof_tolerance",
    "embedding_prefix_recall",
    "diag_column_ndv",
    "ann_ivf_pq_topk",
    "pipeline_contamination_report",
    "agg_weighted_median",
    "dedup_cluster_keep_best",
    "graph_triangle_count",
    "events_user_path_topk",
    "window_streak_longest",
    "join_interval_overlap",
    "events_feature_rollup",
    "text_bigram_lm_score",
    "dedup_audit_sample",
    "window_mean_gap",
    "pipeline_interleave_order",
    # round 6 additions
    "diag_ks_drift",
    "diag_psi_drift",
    "events_change_point",
    "dedup_winnowing_fingerprint",
    "pipeline_mix_temperature",
    "agg_mann_whitney",
    "events_growth_accounting",
    "dedup_winnowing_pairs",
    "pipeline_dedup_rate_curve",
    "text_lexical_diversity",
    "events_bot_score",
    "diag_null_profile",
    "text_zipf_fit",
    "embedding_pq_distortion",
    "events_sessionized_funnel",
    "mr_sort",
    "embedding_cluster_balance",
    "tokenizer_bpe_merges",
    "agg_welch_ttest",
    "events_cuped_adjusted_lift",
    "tokenizer_apply_fertility",
    "eval_pass_at_k",
    "multimodal_wav_energy",
    "events_seasonal_decompose",
    "embedding_outlier_zscore",
    "agg_hdr_latency_percentiles",
    "multimodal_wav_resample",
    "window_forecast_backtest",
    "sketch_countmin_exact",
    "events_lag_features_asof",
    "agg_bootstrap_ci",
    "mr_join",
    "eval_ndcg_ivf",
    "text_bm25_topk",
    "text_bm25_search",
    "eval_calibration_bins",
    "eval_threshold_sweep",
    "pipeline_compaction_plan",
    "agg_winsorized_stats",
    "pipeline_kanonymity_audit",
]


def main() -> None:
    from tmapreduce_spark.catalog import build_catalog
    from tmapreduce_spark.session import get_spark, noop_run

    spark = get_spark(app_name="tmapreduce-bench")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = build_catalog()
    # Full-catalog coverage (r06 verdict #5): every catalog entry gets a
    # recorded sf0.1 cold+warm time so a PCA-shaped outlier can't hide in a
    # never-benched query. Sorted by name so the run order is deterministic
    # across rounds (the catalog dict itself is reordered per-round for
    # driver enumeration) and prefix-grouped families (graph_*, dedup_*)
    # share parquet footer caches between adjacent queries.
    bench_set = sorted(catalog)

    # warm the JVM/parquet footer caches AND the Python worker daemons so
    # per-query times measure the plans, not one-time process startup
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    spark.sparkContext.parallelize(range(64), 32).map(lambda x: x).count()

    def run_pass(tag: str, repeats: int = 1) -> dict[str, float]:
        times: dict[str, float] = {}
        for name in bench_set:
            fn = catalog[name].fn
            best = min(noop_run(spark, fn, SF_DIR) for _ in range(repeats))
            times[name] = round(best, 3)
            print(f"# {tag} {name}: {times[name]:.3f}s", file=sys.stderr)
        return times

    # Pass 1 (cold JVM/codegen) keeps the metric comparable with earlier
    # rounds; pass 2 re-times the identical plans warm with min-of-2
    # back-to-back executions per query (r06 verdict #1) — JIT settled, and
    # the min discards one-off host-load spikes (observed 1.5-3x swings on
    # this shared machine for identical code; the r06 record had six
    # warm>1.5x-cold entries that were pure scheduling noise).
    # Baseline for the outlier re-measure pass: the previously committed
    # record's warm column (read BEFORE this run overwrites the file).
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchmarks")
    sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    cpus_tag = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Outlier-gate baseline: a 32-core run gates against the committed
    # FOLDED record (the strictest baseline — the per-cpu file may hold a
    # raw, noisier run); any other core count gates against its own per-cpu
    # record, because a CPU-bound query is legitimately slower at 8 cores
    # than the committed 32-core warm and comparing across counts would
    # trip the 2x gate on every such entry. A first run at another core
    # count has no record of its own and runs ungated.
    prior_warm: dict[str, float] = {}
    candidates = [os.path.join(bench_dir, f"bench_sf{sf_tag}_c{cpus_tag}.json")]
    if cpus_tag == "32":
        candidates.insert(0, os.path.join(bench_dir, f"bench_sf{sf_tag}.json"))
    for cand in candidates:
        if os.path.exists(cand):
            try:
                with open(cand) as f:
                    prior = json.load(f)
                prior_warm = prior.get("queries_warm") or {}
            except (OSError, ValueError):
                prior_warm = {}
            break

    load_start = os.getloadavg()
    wall_start = time.time()
    times = run_pass("cold")
    times_warm = run_pass("warm", repeats=2)
    # Outlier re-measure (r08): any query whose warm landed past 2x the
    # committed record gets an isolated best-of-3 re-time and keeps the
    # min — a full 344-query sweep rolls the host-noise dice per query
    # (each of the r07/r08 full runs flagged a DIFFERENT handful of
    # sub-second entries, every one of which re-timed clean in isolation),
    # so the harness verifies its own outliers before the record is cut.
    outliers = sorted(
        n
        for n, t in times_warm.items()
        if n in prior_warm and prior_warm[n] > 0 and t > 2.0 * prior_warm[n]
    )
    if outliers:
        saved_set = bench_set
        bench_set = outliers  # run_pass closes over this name
        retimed = run_pass("re-measure", repeats=3)
        bench_set = saved_set
        for n, t in retimed.items():
            # warm column only: a post-sweep re-time is not a cold
            # measurement, and the fold pools cold+warm downstream anyway
            times_warm[n] = min(times_warm[n], t)
    load_end = os.getloadavg()

    headline_names = [n for n in HEADLINE if n in times]
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out = {
        "metric": "headline_query_set_total",
        "value": round(sum(times[n] for n in headline_names), 3),
        "unit": "sec",
        "queries": times,
        "value_warm": round(sum(times_warm[n] for n in headline_names), 3),
        "queries_warm": times_warm,
        "full_catalog_total": round(sum(times.values()), 3),
        "full_catalog_total_warm": round(sum(times_warm.values()), 3),
        "sf": sf_val,
        # Environment stamp (r06 verdict #1): lets a reader judge whether an
        # anomalous entry coincided with external load on this shared host.
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(wall_start)),
        "elapsed_sec": round(time.time() - wall_start, 1),
        # queries that tripped 2x-vs-committed in the sweep and were
        # re-timed isolated (best-of-3, min kept) before the record was cut
        "outliers_remeasured": outliers,
    }
    # Truncation-proofing (r04 verdict #2): the driver keeps only the tail of
    # stdout, and r04's single ~4 KB JSON line lost its cold totals to the
    # cut. Durable full record goes to a file; stdout gets the full line
    # FIRST (so per-query times survive in the tail when space allows) and a
    # compact totals-only line LAST, which the tail capture always preserves
    # intact and any last-line JSON parse always succeeds on.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchmarks")
    os.makedirs(bench_dir, exist_ok=True)
    full_path = os.path.join(bench_dir, f"bench_sf{sf}.json")
    # Per-core-count record durability (r12 verdict #2): the driver benches
    # the same SF at two core counts back-to-back, and r12's 8-core scaling
    # run overwrote the 32-core per-query record, blinding the per-query and
    # scaling comparisons. Every run now ALSO writes a per-cpus record;
    # the legacy path is only cut by the default 32-core run so a low-core
    # scaling pass never clobbers the main record. Additions only — the
    # stdout contract below is unchanged.
    out["cpus"] = int(cpus_tag) if cpus_tag.isdigit() else cpus_tag
    percpu_path = os.path.join(bench_dir, f"bench_sf{sf}_c{cpus_tag}.json")
    with open(percpu_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    if cpus_tag == "32":
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    else:
        full_path = percpu_path  # compact line points at the record that exists
    print(json.dumps(out))
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "value_warm": out["value_warm"],
        "unit": "sec",
        "n_queries": len(times),
        "full_catalog_total": out["full_catalog_total"],
        "full_catalog_total_warm": out["full_catalog_total_warm"],
        "sf": sf_val,
        "full_record": full_path,
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
