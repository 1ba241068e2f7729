"""Partitioning-invariance: the catalog's determinism claims say every
query's RESULT is independent of physical parallelism (md5-derived
uniforms, sorted folds, total-order tie-breaks, exact-integer
accumulators). This test executes a representative slice — the queries
whose plans are most partitioning-sensitive (window folds, sorted
aggregates, sampling, iterative rounds, salted top-k) — under two very
different shuffle-partition settings and asserts row-identical results.

A query that passes the DuckDB oracle but FAILS here would be one whose
determinism came from a lucky physical plan — exactly the bug class
that surfaces only on a real cluster, where partition counts differ
from local[32].
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# partitioning-sensitive representatives: folds/windows (token_entropy,
# ewma, bm25, lm_quality), sampling (weighted/stratified/train-split),
# iterative rounds (kmeans, label_prop, bpe_train, graph_components),
# salted top-k (ann_pq), hash-bucketed self-joins (dedup_lsh_pairs),
# carry-forward as-of (pit_join), order-sensitive LISTAGG
SENSITIVE = [
    "token_entropy", "ewma_report", "bm25_topk", "lm_quality_score",
    "weighted_sample", "stratified_sample", "train_split_report",
    "kmeans_embed", "label_prop_communities", "bpe_train",
    "graph_components", "ann_pq_topk", "ann_pq_trained",
    "dedup_lsh_pairs", "pit_join",
    "listagg_report", "histogram_quantile",
    # r8 banded two-level window rewrites (band prefix + broadcast-back)
    "pareto_frontier", "quality_calibration", "skew_report",
    # r8 iterative SSSP rounds + df-ordered prefix filtering
    "graph_sssp", "jaccard_prefix_join",
    # r8 stats wave: banded global ranks / prefix sums (gini, cusum,
    # acf), struct-argmax first/last (ohlc), per-class EMD prefix
    # walks over the dense grid (t_closeness)
    "gini_coefficient", "cusum_changepoint", "acf_report",
    "ohlc_bars", "t_closeness",
    # per-user IGNORE-NULLS carry with explicit (ts, kind, id) order
    "attribution_report",
    # r8 late wave: min_by modal tie-break (golden_record), struct-
    # argmax latest row (snapshot_asof), cumulative-count order
    # statistics (winsorize), pair-median windows (theil_sen), hash-
    # derived Poisson weights (bootstrap), hash folds (group_kfold),
    # signed share subtraction over a broadcast totals row (affinity)
    "golden_record", "snapshot_asof", "winsorize_report",
    "theil_sen_trend", "bootstrap_ci", "group_kfold",
    "domain_affinity_score",
    # ext14: bounded rank-median windows, rarity-ladder joins,
    # order-explicit sorted-fold SAX strings
    "rolling_median_7d", "unigram_surprisal", "sax_symbolic",
    # ext15: per-term lag windows, hash-driven deterministic walks
    "postings_compression_report", "graph_random_walk",
    # ext16: MLE bigram probabilities, centroid folds, cumulative-count
    # percentiles, tie-broken top-k sets
    "bigram_lm_score", "embedding_outliers", "latency_slo_report",
    "topk_churn_report",
    # ext17: strata-rank apportionment, capped-index threshold sweep
    "quota_allocation", "dedup_threshold_sweep",
    # ext18: scale-free residual ranks, cumulative-count deciles
    "residual_outliers", "equidepth_histogram",
    # ext19: tie-broken per-source rank over the vocab lattice
    "ctfidf_topterms",
    # ext20-22 (r9): pool ranks + salted top-k fusion, wedge-sum
    # anti-joined scores, CDF-lattice windows, quintile cuts, greedy
    # farthest-point rounds (argmax over a carried min-dist column),
    # banded percentile prefix
    "hybrid_rrf_fusion", "link_prediction_ra", "ks_test_drift",
    "mannwhitney_auc", "ndcg_eval", "coreset_kcenter", "rfm_segments",
    "conversion_lag_report",
    # ext23: sorted product fold over collected LM terms, per-seed
    # frontier BFS rounds, ordered reference-window split
    "qlm_dirichlet_topk", "harmonic_centrality_seeds",
    "stream_drift_twin",
    # ext24: per-component argmax keep-rule over LSH/CC labels
    "dedup_best_survivor",
    # ext25: salted all-pairs kNN rank tables joined with their flip
    "mutual_knn_pairs",
    # ext26-27 (r9-s2): row_number pair order over duplicate
    # linenumbers, in-row floor-recurrence folds over sorted arrays
    "kendall_tau_grouped", "kaplan_meier", "holt_forecast",
    # ext30: packed-argmax greedy fold + rank-join decode
    "mmr_diversify",
    # ext31: interval-grid minimax over checkpointed band prefixes
    "isotonic_calibration",
    # ext33: LSH-bucketed LOO votes with (count, label) tie-break
    "knn_label_eval",
    # ext35: two-pass band-refine rank selections
    "histogram_refine_median", "trimmed_mean_report",
    # ext36-37: staged funnel semi/anti chain, gap sessionization
    # windows, exact train-half quantile selections
    "curation_funnel_report", "stream_sessionize_twin",
    "conformal_coverage_audit",
    # r11: delta-peel k-core (iterative removed-set probes + degree
    # decrements; rounds and final degrees must not depend on how the
    # pre-partitioned edge checkpoint is split)
    "kcore_decompose",
    # the superstep family (sum/min combines over broadcast vertex
    # state; rounds and early exits must not depend on partitioning)
    "hits_hubs_authorities", "graph_pagerank", "graph_pagerank_dangling",
    "graph_ppr", "graph_bfs_depth", "textrank_keywords",
]


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_invariant_under_partitioning(spark, name):
    qs = E.queries()
    fn = qs[name]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # sorted MULTISETS, not sets: a row whose multiplicity depends
        # on partitioning must fail, not collapse
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        a = sorted(tuple(map(str, r)) for r in fn(spark, SF).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "31")
        b = sorted(tuple(map(str, r)) for r in fn(spark, SF).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b, f"{name}: result depends on shuffle partitioning"
