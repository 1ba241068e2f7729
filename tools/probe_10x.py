"""Scaling probe: time catalog queries at /tmp/sf1 (10x, from
tools/gen_10x.py) against their sf0.1 records on the same core count
(bench.record_path: BENCH_FULL_c{cpus}.json) and flag superlinear
scalers (ratio > 10 for 10x data).

Only queries whose PRIMARY inputs were scaled are probed — ratios for
dim-driven queries would be flat and meaningless. Findings land in
BENCH_HISTORY.md ("r7 scaling probe"): doc_winnow's md5-string sort
spill was found exactly this way.

Usage: python tools/probe_10x.py [name ...]   (default: the scaled set)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

# Probe corpus overridable: RIB_PROBE_DIR=/tmp/sf10 probes the 100x
# corpus from `RIB_GEN_DST=/tmp/sf10 python tools/gen_10x.py 100`.
PROBE_DIR = os.environ.get("RIB_PROBE_DIR", "/tmp/sf1")

SCALED = [
    # documents-driven
    "flagship_contains_tag", "string_clean", "dedup_exact",
    "doc_fingerprint", "doc_winnow", "dedup_minhash_sigs",
    "dedup_lsh_pairs", "dedup_jaccard", "dedup_ngram_jaccard",
    "simhash_fp", "simhash_hamming_pairs", "text_quality",
    "quality_filter", "token_stats", "text_scrub", "tfidf_topk",
    "bigram_topk", "doc_chunk", "sequence_pack", "sequence_pack_sharded",
    "stratified_sample", "weighted_sample", "lm_quality_score",
    "minhash_estimate", "bm25_topk", "decontaminate_overlap",
    "text_repetition", "rerank_topk", "pii_scrub", "vocab_drift",
    "mix_plan", "token_histogram", "quality_calibration",
    "dedup_survivors", "graph_pagerank", "graph_pagerank_dangling",
    "graph_components", "graph_components_star", "graph_triangles",
    # lineitem / customer-driven
    "graph_two_hop", "similarity_join", "group_topk_ties",
    # round-7 second wave (documents / lineitem driven)
    "token_entropy", "pmi_cooccur", "cube_report", "kmv_distinct",
    "corr_report", "graph_bfs_depth", "kcore_decompose", "bloom_probe",
    "cascade_delete_audit",
    # embeddings-driven (scaled since gen_10x perturbs per-shard replicas)
    "kmeans_embed", "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "ann_hyperplane_topk", "dedup_embedding", "dedup_embedding_multi",
    "embed_quantize_report", "ann_recall_report",
    # final r7 wave (lineitem-driven)
    "graph_jaccard_similarity",
    # ext6 wave (documents / lineitem / embeddings driven)
    "lang_id_trigram", "cms_heavy_hitters", "hll_distinct",
    "prefix_dedup", "span_dedup", "spatial_core_points",
    "containment_dedup", "train_split_report",
    # ext7 wave (orders/events/part scaled in gen_10x since r7)
    "pit_join", "record_linkage", "k_anonymity", "trend_regression",
    "interpolate_linear", "merkle_diff", "zone_map_prune",
    "hll_union_report", "graph_clustering_coeff", "bpe_pair_stats",
    "histogram_quantile", "sorted_neighborhood", "label_prop_communities",
    "interval_overlap_join", "oov_rate",
    "incremental_dedup", "zorder_layout", "join_cardinality_est",
    "ann_pq_topk", "prf_expansion", "tpch_q1", "tpch_q3", "tpch_q5", "bitmap_index_join", "bpe_train", "watermark_audit",
    # r8 wave (documents / lineitem / embeddings driven)
    "ann_pq_trained", "crossref_enrich", "bpe_encode",
    "tpch_q7", "tpch_q10", "tpch_q13", "tpch_q18",
    "pareto_frontier", "skew_report",
    # r8 second wave
    "hard_negative_mining", "dedup_recall_report", "shuffle_shard_plan",
    "tpch_q4", "tpch_q6", "tpch_q8", "tpch_q14", "tpch_q15",
    "tpch_q17", "tpch_q19", "tpch_q22",
    "l_diversity", "graph_assortativity",
    # r8 third/fourth waves (lineitem/orders/customer/events driven)
    "tpch_q2", "tpch_q9", "tpch_q11", "tpch_q12", "tpch_q16",
    "tpch_q20", "tpch_q21",
    "ab_test_welch", "chi_square_report", "gini_coefficient",
    "cusum_changepoint", "acf_report", "benford_report",
    "ohlc_bars", "t_closeness", "grid_dbscan_core",
    "association_rules", "hierarchy_rollup", "decayed_popularity",
    "attribution_report",
    # r8 sixth wave (documents / lineitem / events driven)
    "referential_integrity", "readability_report", "source_overlap",
    "fd_discovery", "distribution_drift",
    "metadata_consistency", "embedding_integrity",
    # r8 late waves (ext12/ext13: documents / events / lineitem /
    # orders driven)
    "golden_record", "snapshot_asof", "boolean_retrieval",
    "phrase_search", "frequent_triples", "group_kfold",
    "winsorize_report", "theil_sen_trend", "bootstrap_ci",
    "length_bucket_batching", "compaction_plan", "domain_affinity_score",
    "rolling_median_7d", "unigram_surprisal", "feature_hashing_report",
    "sax_symbolic", "tokenizer_fertility", "postings_compression_report",
    "graph_random_walk",
    "bigram_lm_score", "embedding_outliers", "latency_slo_report",
    "topk_churn_report",
    "seasonal_anomaly_report", "quota_allocation", "codec_advisor",
    "dedup_threshold_sweep", "residual_outliers", "equidepth_histogram",
    "ctfidf_topterms",
    # r9 waves (documents / embeddings / lineitem / orders / events
    # driven)
    "hybrid_rrf_fusion", "link_prediction_ra", "target_encode_smoothed",
    "ks_test_drift", "gini_gain_report",
    "ndcg_eval", "mannwhitney_auc", "interarrival_burstiness",
    "coreset_kcenter", "rfm_segments", "conversion_lag_report",
    "loo_source_impact",
    "qlm_dirichlet_topk", "rich_club_coefficient",
    "harmonic_centrality_seeds", "stream_drift_twin",
    "dedup_best_survivor", "correlated_predicates",
    "packing_efficiency_sweep",
    "matryoshka_recall_report", "mutual_knn_pairs",
    "slo_burn_rate",
    # r9 late waves + r10 hardened tails (kept under permanent watch)
    "knn_label_eval", "textrank_keywords", "curation_funnel_report",
    "dau_mau_stickiness", "kendall_tau_grouped", "novelty_curve_report",
    "hits_hubs_authorities", "ktruss_edges", "chao_distinct_estimate",
]

# The scaled TAIL (r12 VERDICT next-round item 4): every remaining
# catalog query whose primary inputs gen_10x.py scales — derived from
# the per-plan inputFiles() classification behind PROBE_LEDGER.md, so
# SCALED + SCALED_TAIL + the 3 dim-bound queries (graph_motif_path,
# mint_ids, slug_latlng) partition the whole catalog. r12 probed most
# of these at 100x in ad-hoc name batches; pinning the list here makes
# the coverage reproducible (`python tools/probe_10x.py tail` / `all`).
SCALED_TAIL = [
    "anomaly_mad", "anova_f_report", "anti_semi_split", "argmax_latest",
    "asof_join", "asof_tolerance", "binary_meta", "blocking_quality",
    "bool_agg_report", "broadcast_advisor", "build_inverted_index",
    "c4_line_filter", "cdc_apply", "churn_feature_labels",
    "cohens_d_report", "cohort_ltv", "conformal_coverage_audit",
    "cramers_v_report", "date_decompose", "date_functions",
    "derived_key_join", "dup_detect", "embedding_centroid_drift",
    "event_funnel", "ewma_report", "exact_percentile_rank",
    "existence_probe", "frame_functions", "full_outer_merge",
    "gapfill_ffill", "gopher_quality_flags", "graph_degree",
    "graph_motif_wedge", "graph_ppr", "graph_sssp", "group_top1",
    "groupby_count_report", "grouping_sets_report", "guard_empty",
    "histogram_refine_median", "holt_forecast", "ingest_scorecard",
    "initial_key_join", "intersect_except", "invoice_reconciliation",
    "isotonic_calibration", "ivm_update", "jaccard_prefix_join",
    "json_extract", "kanon_generalization_ladder", "kaplan_meier",
    "keep_first_dedup", "keyset_page", "kruskal_wallis",
    "lift_gains_report", "limit_head", "listagg_report",
    "markov_transitions", "max_over_keys", "media_features",
    "median_mode_report", "mmr_diversify", "mrr_eval", "multi_metric_agg",
    "ntile_bucket", "null_branch_dispatch", "odds_ratio_report",
    "ohlc_downsample", "orcid_coalesce", "partition_advisor",
    "percentile_report", "pinball_loss_eval", "pivot_report",
    "qini_uplift_report", "range_banded_join", "range_frame_window",
    "rank_suite", "regex_filter", "resolve_cascade", "retention_cohort",
    "rollup_report", "running_total", "scd2_history",
    "schema_evolution_merge", "seasonal_naive_backtest",
    "seasonality_report", "sequence_islands", "session_paths",
    "sessionize_events", "skew_salted_join", "sliding_distinct_users",
    "sliding_windows", "spearman_corr", "split_leakage_audit",
    "stream_sessionize_twin", "stream_topk_twin", "table_diff",
    "table_profile", "theta_range_check", "trimmed_mean_report",
    "unpivot_report", "upsert_merge", "upsert_update", "window_lag_delta",
    "windowed_events", "wow_delta_report", "zscore_outliers",
]


def main(names: list[str]) -> None:
    from __spark_entry__ import queries
    from bench import record_path

    from research_index_backend_spark.session import DEFAULT_CPUS, get_spark
    with open(record_path(0.1, DEFAULT_CPUS)) as fh:
        prior = json.load(fh)["queries"]
    spark = get_spark(cpus=DEFAULT_CPUS)
    qs = queries()

    def run(name, sf_dir):
        qs[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()

    run("flagship_contains_tag", "/root/testdata/sf0.1")  # warmup
    suspects = {}
    results = {}
    for name in names:
        best = None
        try:
            for _ in range(int(os.environ.get("RIB_PROBE_RUNS", "2"))):
                t0 = time.perf_counter()
                run(name, PROBE_DIR)
                t = round(time.perf_counter() - t0, 2)
                best = t if best is None else min(best, t)
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"{name}: ERR {str(exc)[:120]}", flush=True)
            continue
        p = prior.get(name)
        ratio = round(best / p, 1) if p else None
        print(f"{name:28s} sf0.1={p} sf1={best} ratio={ratio}", flush=True)
        # 100x probes accumulate DISK_ONLY localCheckpoint blocks across
        # queries faster than the async ContextCleaner frees them — a
        # 14-query shared session killed graph_sssp on GCLocker retries
        # (r12; both victims pass isolated: sssp 64.8s, ktruss 28.3s).
        # Nudge py4j + JVM GC between queries so the cleaner can run;
        # this is probe-harness hygiene, not an engine requirement —
        # production runs one query per job.
        import gc as _gc
        _gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        flag = 10 if PROBE_DIR.endswith("sf1") else 100
        if ratio and ratio > flag:
            suspects[name] = ratio
        results[name] = {"sf01": p, "t": best, "ratio": ratio}
    print("SUSPECTS", json.dumps(suspects))
    out = os.environ.get("RIB_PROBE_OUT")
    if out:
        with open(out, "w") as fh:
            json.dump({"probe_dir": PROBE_DIR, "queries": results}, fh,
                      indent=0)
        print(f"wrote {out}")


if __name__ == "__main__":
    args = sys.argv[1:]
    if args == ["tail"]:
        main(SCALED_TAIL)
    elif args == ["all"]:
        main(SCALED + SCALED_TAIL)
    else:
        main(args or SCALED)
