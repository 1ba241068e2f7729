"""Plan-shape + semantics tests for catalog extension 8
(plans.queries_ext8). Oracle values are pinned by tools/check.py /
the driver correctness run; these pin the scale-shape contracts."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from research_index_backend_spark.plans import queries_ext8 as Q8

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestPlanShapes:
    def test_incremental_dedup_no_cartesian(self, spark):
        p = plan_of(Q8.q_incremental_dedup(spark, SF))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_zorder_no_unbroadcast_join(self, spark):
        """Layouts/predicates explode inline; only the 1-row bounds
        aggregate may nested-loop."""
        p = plan_of(Q8.q_zorder_layout(spark, SF))
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p

    def test_join_card_runs_no_real_join(self, spark):
        """The estimator must not execute the estimated joins — no
        shuffled join of the fact tables (the FK actual is a semi-join
        probe; self-join actuals come from grouped counts)."""
        p = plan_of(Q8.q_join_cardinality_est(spark, SF))
        assert "CartesianProduct" not in p


class TestSemantics:
    def test_incremental_batch_covered(self, spark):
        """Every batch doc appears in the per-source report."""
        rows = Q8.q_incremental_dedup(spark, SF).collect()
        total = sum(r["n_batch"] for r in rows)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        expect = d.filter((F.col("doc_id") % Q8._INC_BATCH_MOD) == 7).count()
        assert total == expect
        for r in rows:
            assert r["n_dup"] <= r["n_with_candidate"] <= r["n_batch"]

    def test_zorder_prunes_2d_no_worse_than_1d(self, spark):
        """For every 2-D predicate, the z-order layout must scan no
        more than the arrival layout, and rows_matched must be
        layout-invariant."""
        rows = Q8.q_zorder_layout(spark, SF).collect()
        by = {(r["layout"], r["pid"]): r for r in rows}
        for pid in (0, 1, 2):
            assert (by[("zorder", pid)]["rows_matched"]
                    == by[("arrival", pid)]["rows_matched"]
                    == by[("custsort", pid)]["rows_matched"])
            assert (by[("zorder", pid)]["scan_frac_e6"]
                    <= by[("arrival", pid)]["scan_frac_e6"])

    def test_join_card_fk_estimate_exact_for_clean_fk(self, spark):
        """With a clean FK (every lineitem order exists, orders keys
        unique), n_o*n_l/max(d_o,d_l) = n_l = actual — rel err 0."""
        rows = {r["join_case"]: r
                for r in Q8.q_join_cardinality_est(spark, SF).collect()}
        fk = rows["orders_lineitem_fk"]
        assert fk["rel_err_e6"] == 0
        for r in rows.values():
            assert r["actual"] > 0 and r["est"] > 0


class TestPQ:
    def test_pq_plan_no_corpus_query_product(self, spark):
        """The r14 inline-codebook form is join-free: encoding and ADC
        are literal projections, so the plan must carry no join of any
        kind (the r13 form needed a 16-row codebook broadcast product
        and an ADC hash join)."""
        p = plan_of(Q8.q_ann_pq_topk(spark, SF))
        assert "CartesianProduct" not in p
        assert "Join" not in p

    @pytest.mark.parametrize("bad", [float("nan"), float("inf")])
    def test_pq_dist_sql_rejects_non_finite(self, bad):
        cv = [0.5] * (Q8._PQ_SUBS * Q8._PQ_SUBDIM)
        assert "0.5D" in Q8._pq_dist_sql(cv, 0)
        cv[3] = bad
        with pytest.raises(ValueError, match=f"{bad!r} at dimension 4"):
            Q8._pq_dist_sql(cv, 0)

    def test_pq_topk_shape_and_selfexclusion(self, spark):
        rows = Q8.q_ann_pq_topk(spark, SF).collect()
        qs = {r["query_id"] for r in rows}
        assert len(qs) == Q8._PQ_NQ
        for q in qs:
            rnks = sorted(r["rnk"] for r in rows if r["query_id"] == q)
            assert rnks == list(range(1, Q8._PQ_K + 1))
        assert all(r["neighbor_id"] != r["query_id"] for r in rows)


class TestMarqueeShapes:
    def test_tpch_q1_filter_pushed_and_join_free(self, spark):
        p = plan_of(Q8.q_tpch_q1(spark, SF))
        assert "PushedFilters: [IsNotNull(l_shipdate)" in p
        assert "Join" not in p

    def test_tpch_q3_topk_is_take_ordered(self, spark):
        p = plan_of(Q8.q_tpch_q3(spark, SF))
        assert "TakeOrdered" in p
        assert "CartesianProduct" not in p

    def test_tpch_q5_no_cartesian(self, spark):
        p = plan_of(Q8.q_tpch_q5(spark, SF))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_bitmap_join_is_word_equi_join(self, spark):
        p = plan_of(Q8.q_bitmap_index_join(spark, SF))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "TakeOrdered" in p

    def test_prf_round2_terms_flow_as_broadcast(self, spark):
        """The returned round-2 plan prunes postings with the inlined
        expanded-term isin filter and joins per-term df back as a
        broadcast hash join — never a full-corpus score, never a
        cross product (r14: stats/fb/exp are build-time literals, so
        the plan no longer embeds round 1)."""
        p = plan_of(Q8.q_prf_expansion(spark, SF))
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


class TestTpchWave2:
    def test_q7_dims_broadcast_no_cartesian(self, spark):
        """Nation-filtered supplier/customer chains must reach the
        facts as broadcast sides; only orderkey + the rollup shuffle."""
        p = plan_of(Q8.q_tpch_q7(spark, SF))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BroadcastHashJoin" in p

    def test_q10_aggregates_before_dim_join(self, spark):
        """Per-customer revenue aggregates on the fact join output
        BEFORE customer/nation attach — the dim join must sit above
        the HashAggregate in the plan tree."""
        p = plan_of(Q8.q_tpch_q10(spark, SF), mode="simple")
        c_join = p.index("c_custkey")
        agg = p.index("HashAggregate")
        assert agg > c_join  # plan prints top-down: agg deeper than join
        assert "TakeOrdered" in p

    def test_q13_left_join_keeps_zero_order_customers(self, spark):
        rows = {r["c_count"]: r["custdist"]
                for r in Q8.q_tpch_q13(spark, SF).collect()}
        # zero-order customers are the query's point — the 0 bucket
        # must exist at this SF (150 customers, 1500 orders, 1/5 of
        # priorities excluded; some customers lose every order)
        assert sum(rows.values()) == 150
        assert all(v > 0 for v in rows.values())

    def test_q18_having_runs_on_lineitem_alone(self, spark):
        """The sum(qty) HAVING must aggregate lineitem BEFORE any join
        — no customer/orders columns below the first HashAggregate."""
        p = plan_of(Q8.q_tpch_q18(spark, SF))
        assert "CartesianProduct" not in p
        rows = Q8.q_tpch_q18(spark, SF).collect()
        assert all(r["sum_qty_e2"] > Q8._Q18_MIN_QTY_E2 for r in rows)
