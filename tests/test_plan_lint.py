"""Catalog-wide physical-plan lint: global scale invariants enforced over
EVERY queries() entry, not per-query spot checks.

Invariants:
- no CartesianProduct anywhere (unbroadcast cross joins are the classic
  100 TB killer; broadcast nested-loop theta joins are fine and appear
  only on an explicit allowlist);
- no row-at-a-time Python UDFs (BatchEvalPython) in any plan — Python in
  the hot path must be Arrow-batched (ArrowEvalPython / mapInPandas);
- no unpartitioned WindowExec over anything that scales with the corpus
  — every Window node must carry a partition spec unless the query is on
  an explicit allowlist of tiny-by-construction inputs (band maxima,
  histogram bins, source dims);
- plans that scan parquet never read a table's full column set
  unprojected unless the query genuinely consumes every column.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# Queries where BroadcastNestedLoopJoin is the correct plan because the
# broadcast side is TINY BY CONSTRUCTION:
# - theta/containment joins on a broadcast dim (flagship word dim, range
#   check batch);
# - crossJoin(broadcast(x)) where x is a 1-row corpus-stats aggregate
#   (bm25/rerank avgdl+N, tfidf doc count) or a constant-size query/
#   centroid batch (brute-force ANN scores the query batch against the
#   corpus BY DESIGN; IVF probes a fixed centroid table).
# Anything NOT listed here that plans a nested loop is a regression.
BNLJ_ALLOWED = {
    "flagship_contains_tag", "theta_range_check",
    "bm25_topk", "rerank_topk", "tfidf_topk",
    "ann_cosine_topk", "ann_ivf_topk",
    # the recall evaluation embeds the brute-force side by design (the
    # exact baseline IS a query-batch x corpus broadcast product)
    "ann_recall_report",
    # 1-row broadcast corpus-totals cross join (same shape as bm25's
    # avgdl+N stats side)
    "vocab_drift",
    # three 1-row count aggregates cross-joined into the final report row
    "bloom_probe",
    # K-row centroid table broadcast against the point set each round
    # (the MLlib assignment shape)
    "kmeans_embed",
    # 1-row corpus-total cross join onto the support-filtered bigram side
    "pmi_cooccur",
    # hour spine (from a 1-row bounds agg) crossed with the 5-row type dim
    "gapfill_ffill",
    # two 1-row count aggregates cross-joined into the lineitem report row
    "cascade_delete_audit",
    # 1-row grand-total + tie-sum aggregates cross-joined into the
    # single report row (the cascade_delete_audit shape)
    "cramers_v_report", "kruskal_wallis",
    # 1-row corpus-end anchor broadcast onto the per-user lifetimes
    # (the snapshot_asof shape)
    "kaplan_meier",
    # 1-row eval-slice shingle-set aggregate broadcast onto the
    # corpus overlap probe (the decontaminate_overlap shape)
    "curation_funnel_report",
    # 1-row (min, max) timeline-bounds aggregate broadcast onto the
    # train/test split scan (the snapshot_asof shape)
    "conformal_coverage_audit",
    # 1-row pool-array x 1-row sims-array cross for the in-row greedy
    # fold (both sides are single-row collected aggregates)
    "mmr_diversify",
    # 1-row max-vec-id split anchor broadcast onto the scan
    # (the snapshot_asof shape)
    "embedding_centroid_drift",
    # 1-row timeline-bounds / max-ts anchors broadcast onto the scan
    # (the snapshot_asof shape)
    "split_leakage_audit", "churn_feature_labels",
    "novelty_curve_report",
    # banded jb <= kb self-join of the ~200-row price-band table
    # (domain-bounded interval grid, corpus-independent)
    "isotonic_calibration",
    # 1-row total-count aggregate cross-joined into each scheme's report
    "blocking_quality",
    # 1-row pagination anchor broadcast onto the keyset predicate scan
    "keyset_page",
    # four 1-row agreement-weight aggregates crossed onto the blocked
    # pair join (the cascade_delete_audit shape)
    "record_linkage",
    # the winning 1-row BPE merge broadcast onto the head corpus
    "bpe_pair_stats",
    # 1-row (min, max) bounds aggregate broadcast onto the binning scan
    "histogram_quantile",
    # 1-row time-range bounds aggregate broadcast onto the as-of filter
    # scan (the histogram_quantile shape)
    "snapshot_asof",
    # 1-row corpus-totals aggregate crossed onto the |vocab| weight
    # table (the bm25 stats shape)
    "domain_affinity_score",
    # 1-row n_sources aggregate crossed onto the (source, term) counts
    # (the bm25 stats shape)
    "ctfidf_topterms",
    # brute-force vector arm (1-query broadcast product, the
    # ann_cosine_topk shape) + 1-row n_docs stats cross
    "hybrid_rrf_fusion",
    # bounded value-domain spine crossed with the |types|-row dim (the
    # gapfill_ffill shape) + two 1-row totals crosses
    "ks_test_drift",
    # 1-row global (count, sum) aggregate crossed onto the per-segment
    # aggregate (the bm25 stats shape)
    "target_encode_smoothed",
    # 1-row parent label-distribution aggregate crossed onto the
    # 3-row per-feature table
    "gini_gain_report",
    # brute-force truth arm (query-batch x corpus broadcast product BY
    # DESIGN — the exact baseline, the ann_recall_report shape)
    "ndcg_eval",
    # brute-force ranking arm over the fixed query batch (the
    # ann_recall_report shape)
    "mrr_eval",
    # the ks_test_drift CDF-lattice machinery (bounded value spine x
    # |types| dim + 1-row totals crosses)
    "mannwhitney_auc",
    # K 1-row selected-center broadcasts crossed onto the point set
    # (the kmeans_embed assignment shape) + 1-row radius aggregates
    "coreset_kcenter",
    # 1-row corpus-max-timestamp aggregate crossed onto the per-user
    # aggregate
    "rfm_segments",
    # 1-row (n, sum) lag-totals aggregate crossed onto the cumulative
    # count table
    "conversion_lag_report",
    # 1-row corpus-totals fold crossed onto the |sources|-row aggregate
    "loo_source_impact",
    # 1-row corpus-token-total + 3-row query-term LM crossed onto the
    # candidate set (the bm25 stats shape)
    "qlm_dirichlet_topk",
    # 1-row part-count total crossed onto the |brands| x |types|
    # pair lattice
    "correlated_predicates",
    # one query-batch x corpus broadcast product scoring all 4
    # truncated-prefix rungs + truth (BY DESIGN — the ann_recall_report
    # shape; r14 single-product rewrite)
    "matryoshka_recall_report",
    # 1-row max-ts anchor broadcast onto the trailing-window scan
    # (the snapshot_asof shape)
    "slo_burn_rate",
    # 1-row bounds aggregate broadcast onto the z-value/binning scan
    "zorder_layout",
    # per-case 1-row statistics aggregates crossed into the 3-row report
    "join_cardinality_est",
    # (r14: ann_pq_topk removed — the inline-codebook rewrite carries
    # no nested-loop join at all; codebook/ADC literals replace the
    # 16-row broadcast product)
    # (r14: prf_expansion removed — the bounded stats/feedback/expansion
    # frames are collected at build and inlined, so no stats cross join
    # remains in the returned round-2 plan)
    # 1-row (total revenue, part count) aggregate cross-joined as the
    # scalar-subquery HAVING threshold (Q11's textbook shape)
    "tpch_q11",
    # per-round 1-row winning-merge broadcast rewrites (bpe_pair_stats
    # shape, iterated)
    "bpe_train",
    # 1-row key-total aggregate crossed onto the frequency-distribution
    # table (banded-rewrite r8; cascade_delete_audit shape)
    "skew_report",
    # 1-row corpus-count aggregate crossed onto the per-score table
    # (banded-rewrite r8; same 1-row-total shape)
    "quality_calibration",
    # the recall harness embeds the exact brute-force side by design
    # (query batch broadcast x corpus — the ann_recall_report shape)
    "ann_pq_trained",
    # three 1-row count aggregates crossed into the final report row
    # (the cascade_delete_audit shape)
    "dedup_recall_report",
    # 1-row max-revenue aggregate broadcast back onto the per-supplier
    # table (argmax-over-aggregate, the scalar-subquery shape)
    "tpch_q15",
    # 1-row average-balance aggregate broadcast (Q22's scalar subquery)
    "tpch_q22",
    # 1-row grand-total aggregate crossed onto the 25-row contingency
    # grid (expected-count denominator; cascade_delete_audit shape)
    "chi_square_report",
    # 1-row total crossed onto the 9-row digit table (share
    # denominator; cascade_delete_audit shape)
    "benford_report",
    # the ~50-row class dim crossed with the ~6-row band dim (the
    # dense EMD grid) plus a 1-row global total — all post-aggregate
    "t_closeness",
    # 1-row basket-count aggregate crossed onto the support table
    # (the support/lift denominator; cascade_delete_audit shape)
    "association_rules",
    # 1-row (min, max) time-bounds aggregate broadcast onto the binning
    # scan (the histogram_quantile shape)
    "distribution_drift",
}


# Queries whose executed plans carry an UNPARTITIONED Window node whose
# input is TINY BY CONSTRUCTION (never corpus-scale), so the single
# partition is deliberate and bounded. Anything NOT listed here that
# plans a global window is the round-7-flagged scale killer (sorting the
# corpus through one task) and fails the lint.
GLOBAL_WINDOW_ALLOWED = {
    # two-level band decompositions: level 1 is partitioned by band;
    # the only global window is the prefix max/sum over the BAND-MAXIMA
    # table (|x-domain| / 8192 rows, not corpus rows)
    "pareto_frontier", "watermark_audit", "quality_calibration",
    "skew_report",
    # prefix-sum over the fixed histogram-bin table (256 bins)
    "histogram_quantile",
    # exclusive band-count prefix over the balance-domain band table
    # (~123 rows = domain/8192, corpus-independent; the two-level
    # banded global-rank decomposition)
    "gini_coefficient",
    # share normalization over the SOURCE dim (tens of rows; docstring
    # documents the bound) — sum() over () on the per-source aggregate
    "mix_plan",
    # share normalization over the K-row fold aggregate (K = 5 by
    # construction) — the mix_plan shape
    "group_kfold",
    # total/remainder-rank/leftover windows over the (lang, source)
    # strata dim (bounded vocabularies, ~tens of rows) — the mix_plan
    # shape with a rank
    "quota_allocation",
    # rank window over the POST-LIMIT lexical pool (30 rows by
    # construction: orderBy+limit precedes the window — TakeOrdered
    # does the corpus-scale work, the window only numbers survivors)
    "hybrid_rrf_fusion",
    # rank window over the POST-LIMIT candidate pool (30 rows — the
    # hybrid_rrf_fusion shape); the greedy fold is windowless
    "mmr_diversify",
    # prefix sum over the lag-minute BAND table (|timeline minutes| /
    # 512 rows, corpus-independent — the gini_coefficient two-level
    # banded decomposition)
    "conversion_lag_report",
    # tie-averaged rank prefix over the QUANTITY-DOMAIN marginal
    # (50 rows by construction — the value domain, not the corpus)
    "kruskal_wallis",
    # descending prefix + totals over the PRICE-BAND table (~500 rows,
    # price-domain-bounded — the gini_coefficient banded shape)
    "lift_gains_report",
    # descending prefix over the ~6-row extended-price band table
    # (the lift_gains_report banded shape)
    "qini_uplift_report",
    # prefix + total over the FIXED 10-row tranche table
    "novelty_curve_report",
}


def _split_top_level_lists(args: str) -> list[str]:
    """Split a formatted-explain Arguments line into its top-level
    bracketed lists: '[fns], [part], [order]' -> 3 parts."""
    parts, depth, cur, i = [], 0, "", 0
    while i < len(args):
        ch = args[i]
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if depth == 0 and args[i:i + 4] == "], [":
            parts.append(cur + "]")
            cur = ""
            i += 3  # leave '[' for the next iteration's depth count
            continue
        cur += ch
        i += 1
    parts.append(cur)
    return parts


def _has_unpartitioned_window(plan: str) -> bool:
    """True if any Window node in a formatted plan has an empty
    partition spec. Arguments shapes: [fns], [part], [order] (3 lists,
    partitioned); [fns], [part] (partitioned, unordered frame — the
    second list has no ASC/DESC); [fns], [order] (UNpartitioned,
    ordered — ASC/DESC present); [fns] (UNpartitioned over ())."""
    for m in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan):
        lists = _split_top_level_lists(m.group(1))
        if len(lists) >= 3:
            continue
        if len(lists) == 2 and not re.search(r" (ASC|DESC)", lists[1]):
            continue
        return True
    return False


def _plans(spark):
    for name, fn in E.queries().items():
        df = fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        yield name, buf.getvalue()


@pytest.fixture(scope="module")
def all_plans(spark):
    return dict(_plans(spark))


def test_no_cartesian_product(all_plans):
    bad = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_nested_loop_joins_only_where_theta_semantics_require(all_plans):
    bad = [n for n, p in all_plans.items()
           if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED]
    assert not bad, f"unexpected BroadcastNestedLoopJoin in: {bad}"


def test_no_unpartitioned_window_over_corpus(all_plans):
    # A WindowExec with an empty partition spec moves its whole input
    # through ONE task — fatal at corpus scale. Allowed only where the
    # window input is bounded by construction (see allowlist rationale).
    bad = [n for n, p in all_plans.items()
           if _has_unpartitioned_window(p) and n not in GLOBAL_WINDOW_ALLOWED]
    assert not bad, f"unpartitioned Window over non-allowlisted input: {bad}"


def test_global_window_allowlist_is_tight(all_plans):
    # Every allowlist entry must actually plan a global window — stale
    # entries would silently widen the lint's blind spot.
    stale = [n for n in GLOBAL_WINDOW_ALLOWED
             if not _has_unpartitioned_window(all_plans[n])]
    assert not stale, f"allowlisted but no global window in plan: {stale}"


def test_no_row_at_a_time_python_udfs(all_plans):
    # BatchEvalPython = pickled row-at-a-time UDF; ArrowEvalPython (pandas
    # UDFs) and mapInPandas are the only acceptable Python operators.
    bad = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_every_query_builds_and_explains(all_plans):
    assert len(all_plans) == len(E.queries())
    empty = [n for n, p in all_plans.items() if "Scan" not in p
             and "LocalTableScan" not in p and "Rdd" not in p
             and "RDD" not in p]
    assert not empty, f"plans with no scan at all: {empty}"


# Driver-side df.count() sites in package source. Raw-TABLE sizing counts
# were replaced in r10 by the parquet-footer stats sidecar
# (sources/stats.py — r9 VERDICT item 3); the survivors are either
# (a) `except OSError` fallbacks for non-posix table paths where the
#     sidecar can't stat (one column-pruned count, never taken on
#     local testdata), or
# (b) counts on DERIVED, just-checkpointed frames inherent to iterative
#     algorithms: convergence/fixpoint tests and |V| seeds, where no
#     footer exists to read.
# Any new .count() anywhere else in the package is a lint failure: add
# it here only with a (a)/(b)-class justification.
DRIVER_COUNT_ALLOWED = {
    # (a) the single sidecar-fallback path: every sizing site routes
    # through table_rowcount_or_count (one cached count per table per
    # session when footers are unreadable) — no per-query fallbacks
    "sources/stats.py": 1,
    # (b) iterative derived-frame counts
    "plans/queries_ext5.py": 1,   # k-core peel fixpoint early-exit
    "plans/queries_ext28.py": 1,  # textrank |V| (checkpointed rank frame)
    "graph/analytics.py": 2,      # star-components edge-fixpoint test
}

# Driver-side df.collect() sites in package source. Each pulls a frame
# whose size is capped by a limit() or by a contract bound, never one
# that grows with the corpus. A new .collect() is a lint failure: add it
# here only with the limit or bound that caps it.
DRIVER_COLLECT_ALLOWED = {
    # the 1-row ingest scorecard; the per-DOI details are bounded by
    # the --limit-capped DOI list the driver read
    "cli.py": 2,
    # PQ codebook rows (vec_id < _PQ_CODES); 1-row corpus stats;
    # limit(_PRF_FB_DOCS) feedback docs; limit(_PRF_EXP_TERMS) terms
    "plans/queries_ext8.py": 4,
    # assert_unique's limit(1) probe; bucket ids (at most n_buckets)
    "operators/upsert.py": 2,
}


def _driver_side_calls(method: str) -> dict[str, int]:
    """Per-file count of `.<method>()` calls in package source."""
    import os
    import tokenize

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "research_index_backend_spark")
    found: dict[str, int] = {}
    for root, _dirs, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            n = 0
            with open(path, "rb") as fh:
                toks = list(tokenize.tokenize(fh.readline))
            # a .count() call = NAME 'count' preceded by OP '.' and
            # followed by OP '(' OP ')' — strings/comments never match
            for i, t in enumerate(toks):
                if (t.type == tokenize.NAME and t.string == method
                        and i >= 1 and toks[i - 1].string == "."
                        and i + 2 < len(toks)
                        and toks[i + 1].string == "("
                        and toks[i + 2].string == ")"):
                    n += 1
            if n:
                found[rel] = n
    return found


def test_driver_side_counts_are_pinned():
    found = _driver_side_calls("count")
    assert found == DRIVER_COUNT_ALLOWED, (
        f"driver-side .count() drift: found {found}, "
        f"allowed {DRIVER_COUNT_ALLOWED}")


def test_driver_side_collects_are_pinned():
    found = _driver_side_calls("collect")
    assert found == DRIVER_COLLECT_ALLOWED, (
        f"driver-side .collect() drift: found {found}, "
        f"allowed {DRIVER_COLLECT_ALLOWED}")


# The document tokenizer and its DuckDB twin live once, in
# operators/textstats.py (tokens / tokens_sql). An inline copy in a plan
# module is a second definition that can drift from the oracle's. A
# split of lower(text) on anything but \s+ (lm_quality_score's character
# split on "") is not the tokenizer and does not match.
_INLINE_TOKENIZER = re.compile(
    r"F\.split\(\s*F\.lower\((?:[^()]|\([^()]*\))*\)\s*,\s*r?([\"'])"
    r"\\{1,2}s\+\1"
    r"|string_split_regex\(lower\(")


def test_no_inline_tokenizer_copies_in_plans():
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "research_index_backend_spark", "plans")
    bad = []
    for f in sorted(os.listdir(root)):
        if f.endswith(".py"):
            src = open(os.path.join(root, f)).read()
            bad += [f"plans/{f}:{src.count(chr(10), 0, m.start()) + 1}"
                    for m in _INLINE_TOKENIZER.finditer(src)]
    assert not bad, (
        "inline tokenizer copy (use operators.textstats.tokens / "
        f"tokens_sql): {bad}")


def test_one_keyed_state_operator_in_package():
    """streaming.stateful.keyed_state is the package's one
    applyInPandasWithState call and the one place a key's Arrow chunks
    are concatenated; a streaming operator supplies only its step."""
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "research_index_backend_spark")
    calls, concats = [], []
    for d, _, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            calls += [rel] * src.count(".applyInPandasWithState(")
            if rel.startswith("streaming" + os.sep):
                concats += [rel] * src.count("pd.concat(")
    one = [os.path.join("streaming", "stateful.py")]
    assert calls == one, f".applyInPandasWithState( calls: {calls}"
    assert concats == one, f"pd.concat( in streaming/: {concats}"


# Fact-table scan fan-out. A frame consumed by N downstream branches
# re-evaluates its whole subtree once per consumer unless an exchange is
# reused — at 100 TB that is N full passes over a fact table. The r10
# multi-scan audit found graph_random_walk re-running its orders x
# lineitem edge join SEVEN times (14 fact scans) this way; this lint
# pins the fixed state. Two caveats the allowlist encodes:
# (a) some multi-arm evals re-scan BY DESIGN (pruned re-reads, separate
#     algorithm arms) — cheaper than materializing at scale;
# (b) AQE ReusedExchange shares IDENTICAL exchange subtrees at runtime,
#     so the static scan count can overstate executed work — for three
#     entries below an explicit localCheckpoint was MEASURED SLOWER
#     (sf0.1, r10) and rejected; do not "fix" them again.
FACT_TABLES = ("lineitem", "orders", "documents", "embeddings",
               "events", "customer")
FACT_SCAN_CAP = 4
FACT_SCAN_ALLOWED = {
    # (a) two-version snapshot simulation: fingerprint pass per version
    # + dirty-bucket row re-scans are PRUNED re-reads by design — in
    # production v1/v2 are separate tables and never materialized
    "merkle_diff": {"orders": 9},
    # (r14: matryoshka_recall_report entry removed — the single-product
    # rewrite computes all 4 rungs + truth from ONE corpus scan pair)
    # (a) resolve cascade levels each probe the customer key dim with a
    # pruned lookup scan
    "resolve_cascade": {"customer": 5},
    # (a) per-case 1-row statistics aggregates feeding the 3-row report
    "join_cardinality_est": {"lineitem": 5},
    # (r13: referential_integrity and dedup_recall_report entries
    # removed — the single-pass FK audit is under the cap, and the
    # truth-checkpointed recall report no longer rescans documents.
    # dedup_recall's CAND side stays un-checkpointed: its consumers
    # reuse the banding exchange, and checkpointing it measured
    # SLOWER, 1.02-1.08x — only the truth arm, which ends in a
    # post-join filter with no exchange, was really recomputing.)
    # (b) bounded 500-doc collection; token/ordered consumers share
    # exchanges via AQE reuse (checkpoint measured slower)
    "jaccard_prefix_join": {"documents": 8},
    # (b) brute-force arm + label dims; the union+agg consumers share
    # the ranking exchange via AQE reuse (checkpoint measured slower)
    "mrr_eval": {"embeddings": 8},
}


def _fact_scan_counts(plan: str) -> dict[str, int]:
    # Anchor to scan-node Location lines ("Location: InMemoryFileIndex
    # [file:/.../<table>.parquet]") rather than bare substrings, so a
    # table whose name suffixes another, or path text echoed inside
    # ReusedExchange/subquery sections, can't over- or under-count
    # (round-10 ADVICE item 3).
    import re

    return {t: len(re.findall(
        rf"Location.*[/ ]{re.escape(t)}\.parquet", plan))
        for t in FACT_TABLES}


def test_fact_table_scan_fanout(all_plans):
    bad = {}
    for name, p in all_plans.items():
        allowed = FACT_SCAN_ALLOWED.get(name, {})
        over = {t: n for t, n in _fact_scan_counts(p).items()
                if n > max(FACT_SCAN_CAP, allowed.get(t, 0))}
        if over:
            bad[name] = over
    assert not bad, (
        f"fact-table scan fan-out over cap (see FACT_SCAN_ALLOWED "
        f"rationale before allowlisting): {bad}")


def test_fact_scan_allowlist_is_tight(all_plans):
    # Every allowlisted (query, table) must still exceed the cap —
    # stale entries would silently widen the lint's blind spot.
    stale = []
    for name, tables in FACT_SCAN_ALLOWED.items():
        plan = all_plans.get(name)
        if plan is None:
            # renamed/removed query → the allowlist entry itself is
            # stale; report it readably instead of a KeyError
            stale += [(name, t, "query not in catalog") for t in tables]
            continue
        counts = _fact_scan_counts(plan)
        stale += [(name, t, f"count {counts.get(t, 0)} <= cap")
                  for t in tables if counts.get(t, 0) <= FACT_SCAN_CAP]
    assert not stale, (
        f"stale FACT_SCAN_ALLOWED entries (remove or update): {stale}")


def test_no_split_expression_referenced_inside_hof_lambdas():
    # Higher-order-function lambdas run interpreted, and any expression
    # the lambda body references re-evaluates PER ELEMENT — a token
    # array built by F.split() and then sliced inside transform() runs
    # the regex split once per shingle POSITION (novelty_curve_report
    # measured its first-seen branch 7.3s -> 0.6s at sf0.1 after
    # staging the array to a named column; chao_distinct_estimate and
    # bigram_topk carried the same defect). The fix is always the same:
    # .select(toks.alias("tk")) first, then reference the cheap column
    # attribute inside the lambda. This lint parses every plans/ and
    # operators/ module and fails if a lambda body references a
    # variable whose assignment contains F.split( — i.e. the expensive
    # expression itself, not a staged column.
    # Round-10 ADVICE item 2 hardening: the lint walks module bodies
    # and async functions too, follows every assignment form (tuple /
    # multiple targets, walrus, augmented), and detects split via the
    # AST call graph — a Call whose func is `split` or `<alias>.split`
    # where the name binds pyspark.sql.functions — instead of a source
    # substring, so aliased imports can't slip past.
    # A call to operators.textstats.tokens (the catalog tokenizer, an
    # F.split behind a name; under any alias, or as <textstats>.tokens)
    # counts as a split call too.
    import ast
    import os

    def _split_call_in(expr: ast.AST, f_aliases: set, split_names: set,
                       ts_aliases: set):
        for node in ast.walk(expr):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name) and fn.id in split_names:
                return True
            # textstats.tokens is F.split behind a name: <ts>.tokens(...)
            if (isinstance(fn, ast.Attribute) and fn.attr == "tokens"
                    and isinstance(fn.value, ast.Name)
                    and fn.value.id in ts_aliases):
                return True
            if isinstance(fn, ast.Attribute) and fn.attr == "split":
                # <alias>.split(...) where alias binds the functions
                # module, OR the fully-qualified Attribute chain
                # pyspark.sql.functions.split(...) (r11 ADVICE: a
                # plain `import pyspark.sql.functions` registers alias
                # 'pyspark', but the qualified call's func.value is an
                # Attribute chain, not an ast.Name — resolve the
                # dotted name and compare).
                if (isinstance(fn.value, ast.Name)
                        and fn.value.id in f_aliases):
                    return True
                dotted = []
                v = fn.value
                while isinstance(v, ast.Attribute):
                    dotted.append(v.attr)
                    v = v.value
                if isinstance(v, ast.Name):
                    dotted.append(v.id)
                    name = ".".join(reversed(dotted))
                    if (name == "pyspark.sql.functions"
                            or name in f_aliases):
                        return True
        return False

    def _target_names(tgt: ast.AST):
        if isinstance(tgt, ast.Name):
            yield tgt.id
        elif isinstance(tgt, (ast.Tuple, ast.List)):
            for e in tgt.elts:
                yield from _target_names(e)

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "research_index_backend_spark")
    bad = []
    for sub in ("plans", "operators", "graph", "functions", "streaming"):
        root = os.path.join(pkg, sub)
        if not os.path.isdir(root):
            continue
        for f in sorted(os.listdir(root)):
            if not f.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(root, f)).read())
            # module-level aliases of pyspark.sql.functions / its split,
            # and of operators.textstats / its tokens (a split call
            # behind a name; textstats.py itself calls it bare)
            f_aliases, split_names, ts_aliases = set(), set(), set()
            if (sub, f) == ("operators", "textstats.py"):
                split_names.add("tokens")
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name == "pyspark.sql.functions":
                            f_aliases.add(a.asname or "pyspark")
                        elif (a.name.endswith(".textstats")
                              and a.asname):
                            ts_aliases.add(a.asname)
                elif isinstance(node, ast.ImportFrom):
                    mod = node.module or ""
                    if mod == "pyspark.sql":
                        for a in node.names:
                            if a.name == "functions":
                                f_aliases.add(a.asname or "functions")
                    elif mod == "pyspark.sql.functions":
                        for a in node.names:
                            if a.name == "split":
                                split_names.add(a.asname or "split")
                    elif mod == "textstats" or mod.endswith(".textstats"):
                        for a in node.names:
                            if a.name == "tokens":
                                split_names.add(a.asname or "tokens")
                    elif mod == "operators" or mod.endswith(".operators"):
                        for a in node.names:
                            if a.name == "textstats":
                                ts_aliases.add(a.asname or "textstats")
            if not f_aliases and not split_names and not ts_aliases:
                continue
            # scopes to scan: every (async) function body + the module
            scopes = [n for n in ast.walk(tree) if isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef))] + [tree]
            for fn in scopes:
                split_vars = set()
                body_nodes = (ast.walk(fn) if not isinstance(fn, ast.Module)
                              else ast.iter_child_nodes(fn))
                for node in body_nodes:
                    val, tgts = None, []
                    if isinstance(node, ast.Assign):
                        val, tgts = node.value, node.targets
                    elif isinstance(node, ast.AugAssign):
                        val, tgts = node.value, [node.target]
                    elif isinstance(node, ast.AnnAssign) and node.value:
                        val, tgts = node.value, [node.target]
                    elif isinstance(node, ast.NamedExpr):
                        val, tgts = node.value, [node.target]
                    if val is not None and _split_call_in(
                            val, f_aliases, split_names, ts_aliases):
                        for t in tgts:
                            split_vars.update(_target_names(t))
                if not split_vars:
                    continue
                for lam in [n for n in ast.walk(fn)
                            if isinstance(n, ast.Lambda)]:
                    args = {a.arg for a in lam.args.args}
                    refs = {n.id for n in ast.walk(lam.body)
                            if isinstance(n, ast.Name)} - args
                    hit = refs & split_vars
                    if hit:
                        bad.append(f"{sub}/{f}:{lam.lineno} "
                                   f"lambda references split var {hit}")
    assert not bad, (
        "split() expression referenced inside HOF lambda (re-evaluates "
        f"per element — stage it to a named column first): {bad}")


def test_probe_class_is_derived_from_inputs(spark):
    """The scaling-probe ledger derives each row's class from its own
    inputs (inputFiles(), else its source tables): rows reading only the
    unscaled dimension tables are dim-bound, a row reading a scaled
    table is scaled."""
    from tools.probe_ledger import classify
    dim_bound = ("graph_motif_path", "mint_ids", "slug_latlng")
    qs = E.queries()
    info = classify(spark, {n: qs[n] for n in
                            dim_bound + ("flagship_contains_tag",)}, SF)
    assert {n: info[n]["class"] for n in info} == {
        **{n: "dim-bound" for n in dim_bound},
        "flagship_contains_tag": "scaled"}


# Ingest plan shape, on an empty envelope frame: optimized-plan characters
# with expression ids masked (they grow over a session's life). With the
# staged author cascade (ingest/parse.py) these measured 5,397
# (parse_authors), 7,126 (parse_articles), 1,896 (outputs), 251 (authors),
# 296 (author_of) and 1,810 (refers_to); the nested Column cascade it
# replaced measured 113,056 (parse_authors) and 114,773 (parse_articles).
# Each bound is 2x the staged measurement.
INGEST_PLAN_CHARS = {
    "parse_authors": 10_794, "parse_articles": 14_252, "outputs": 3_792,
    "authors": 502, "author_of": 592, "refers_to": 3_620,
}


def _ingest_plans(spark) -> dict:
    from research_index_backend_spark.ingest.fetch import FETCH_SCHEMA
    from research_index_backend_spark.ingest.parse import (
        parse_articles,
        parse_authors,
    )
    from research_index_backend_spark.ingest.pipeline import (
        build_graph_from_envelopes,
    )
    from research_index_backend_spark.schemas import (
        AUTHOR_NODE,
        COUNTRY_NODE,
        OPENAIRE_SCHEMA,
    )

    def empty(schema):
        return spark.createDataFrame([], schema)

    env = empty(OPENAIRE_SCHEMA)
    graph = build_graph_from_envelopes(env, empty(AUTHOR_NODE),
                                       empty(COUNTRY_NODE), empty(FETCH_SCHEMA))
    return {"parse_authors": parse_authors(env),
            "parse_articles": parse_articles(env), **graph}


def test_ingest_plan_sizes_are_bounded(spark):
    sizes = {n: len(re.sub(r"#\d+", "", df._jdf.queryExecution()
                           .optimizedPlan().toString()))
             for n, df in _ingest_plans(spark).items()}
    over = {n: (s, INGEST_PLAN_CHARS[n]) for n, s in sizes.items()
            if s > INGEST_PLAN_CHARS[n]}
    assert not over, f"ingest plan over its size bound (chars, bound): {over}"


def test_refers_to_does_not_rerun_parse_udfs(spark):
    """refers_to tags the batch's outputs after they are materialized, so
    parse_articles' Python UDFs run once per batch, in the outputs
    checkpoint, and not again inside the tagging."""
    plan = _ingest_plans(spark)["refers_to"] \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0, plan


def test_parse_authors_evaluates_each_udf_call_once(spark):
    """parse_authors has three Python UDF call sites (py_title_udf on name
    and surname, clean_html_udf on the repaired surname); each must run
    once per row, not again in a pushed-down filter or a re-inlined
    stage."""
    from research_index_backend_spark.functions.pytext import (
        clean_html_udf,
        py_title_udf,
    )
    from research_index_backend_spark.ingest.parse import parse_authors
    from research_index_backend_spark.schemas import OPENAIRE_SCHEMA

    plan = parse_authors(spark.createDataFrame([], OPENAIRE_SCHEMA)) \
        ._jdf.queryExecution().executedPlan().toString()
    names = "|".join((py_title_udf.__name__, clean_html_udf.__name__))
    calls = sum(len(re.findall(rf"\b({names})\(", line))
                for line in plan.split("\n") if "ArrowEvalPython" in line)
    assert calls == 3, f"{calls} Python UDF calls in parse_authors:\n{plan}"
