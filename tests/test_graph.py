"""Graph analytics: connected components on known topologies, PageRank
invariants, resolution cascade paths (exact difflib mode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from research_index_backend_spark.graph.analytics import (
    connected_components,
    degrees,
    pagerank,
)
from research_index_backend_spark.operators.resolve import resolve_authors


class TestConnectedComponents:
    def test_chain_plus_isolated(self, spark):
        """A 4-chain (worst case for label prop: O(diameter) rounds), a
        2-clique, and an isolated node."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"])
        nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)],
                                      ["id"])
        got = {r["id"]: r["component"] for r in
               connected_components(edges, nodes=nodes).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}

    def test_degrees(self, spark):
        edges = spark.createDataFrame([(1, 2), (1, 3)], ["src", "dst"])
        got = {r["id"]: r["degree"] for r in degrees(edges).collect()}
        assert got == {1: 2, 2: 1, 3: 1}

    def test_nonconverged_signals(self, spark):
        """A truncated run must not look like a converged one (round-2
        ADVICE): warn by default, raise on request."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 8)], ["src", "dst"])  # 8-chain
        with pytest.warns(RuntimeWarning, match="did not converge"):
            connected_components(edges, max_iter=1)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=1, on_nonconverged="raise")
        # a converged run emits nothing
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            got = {r["id"]: r["component"] for r in
                   connected_components(edges).collect()}
        assert set(got.values()) == {1}


class TestPageRank:
    def test_mass_conserved_and_hub_ranked(self, spark):
        # star: everyone links to 1
        edges = spark.createDataFrame(
            [(2, 1), (3, 1), (4, 1)], ["src", "dst"])
        ranks = {r["id"]: r["rank"] for r in
                 pagerank(edges, n_iter=10).collect()}
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)
        assert ranks[1] == max(ranks.values())

    def test_dangling_in_plan_matches_reference(self, spark):
        """handle_dangling=True on a directed graph WITH sinks: the
        in-plan (crossJoin-broadcast) dangling path must reproduce the
        textbook per-round recurrence exactly (Python reference below)
        and conserve total rank mass. Sparse checkpoints (cadence
        CHECKPOINT_EVERY) must not change the numbers — the old
        collect()-based path forced cadence 1."""
        # 1->2->3 chain plus 4->3: node 3 is a sink holding mass
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 3)], ["src", "dst"])
        d, n, n_iter = 0.85, 4, 7

        ref = {i: 1.0 / n for i in (1, 2, 3, 4)}
        out_deg = {1: 1, 2: 1, 3: 0, 4: 1}
        for _ in range(n_iter):
            in_sum = {i: 0.0 for i in ref}
            for s, t in [(1, 2), (2, 3), (4, 3)]:
                in_sum[t] += ref[s] / out_deg[s]
            dang = sum(r for i, r in ref.items() if out_deg[i] == 0)
            ref = {i: (1 - d) / n + d * (in_sum[i] + dang / n)
                   for i in ref}

        got = {r["id"]: r["rank"] for r in
               pagerank(edges, n_iter=n_iter,
                        handle_dangling=True).collect()}
        for i in ref:
            assert got[i] == pytest.approx(ref[i], rel=1e-12), i
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


class TestResolveCascade:
    def test_three_paths_exact(self, spark):
        existing = spark.createDataFrame(
            [("u1", "Will", "Usher", "https://orcid.org/0000-1"),
             ("u2", "Vignesh", "Sridharan", None)],
            ["uuid", "first_name", "last_name", "orcid"])
        incoming = spark.createDataFrame(
            [  # correct orcid + matching name -> matched_orcid
                (1, "Will", "Usher", "https://orcid.org/0000-1"),
                # orcid of u1 but a COMPLETELY different name -> verify
                # fails -> name-key fallback also misses -> created
                (2, "Zanzibar", "Qux", "https://orcid.org/0000-1"),
                # no orcid, name key hits u2 -> matched_name
                (3, "Vignesh", "Sridharan", None),
                # unknown everything -> created
                (4, "Ada", "Lovelace", None),
            ],
            ["in_id", "first_name", "last_name", "orcid"])
        got = {r["in_id"]: r for r in
               resolve_authors(incoming, existing, exact=True).collect()}
        assert got[1]["resolution"] == "matched_orcid"
        assert got[1]["resolved_uuid"] == "u1"
        assert got[2]["resolution"] == "created"
        assert got[3]["resolution"] == "matched_name"
        assert got[3]["resolved_uuid"] == "u2"
        assert got[4]["resolution"] == "created"
        # created ids are deterministic (sha2 of the natural key)
        again = {r["in_id"]: r["resolved_uuid"] for r in
                 resolve_authors(incoming, existing, exact=True).collect()}
        assert again[4] == got[4]["resolved_uuid"]


class TestStarComponents:
    def test_matches_label_propagation(self, spark):
        """Star contraction and label propagation agree on a mixed
        topology (chain + clique + isolated node)."""
        from research_index_backend_spark.graph.analytics import (
            connected_components_star)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
            ["src", "dst"])
        nodes = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 99)], ["id"])
        star = {r["id"]: r["component"] for r in
                connected_components_star(edges, nodes=nodes).collect()}
        prop = {r["id"]: r["component"] for r in
                connected_components(edges, nodes=nodes).collect()}
        assert star == prop
        assert star[99] == 99

    def test_chain_converges_in_log_rounds(self, spark):
        """The reason this variant exists: a 64-node chain needs ~63
        label-propagation rounds (O(diameter)) but must finish star
        contraction within 2*log2(n) = 12 rounds (O(log n)). Warnings
        are errors here, so a truncated (non-converged) run fails."""
        import math
        import warnings
        from research_index_backend_spark.graph.analytics import (
            connected_components_star)
        n = 64
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], ["src", "dst"])
        budget = int(2 * math.log2(n))
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            got = {r["id"]: r["component"] for r in
                   connected_components_star(edges,
                                             max_iter=budget).collect()}
        assert got == {i: 1 for i in range(1, n + 1)}
        # label propagation genuinely cannot do this in the same budget
        with pytest.warns(RuntimeWarning, match="did not converge"):
            connected_components(edges, max_iter=budget)


class TestMotifCompiler:
    """graph.queries.PropertyGraph.match — pattern parse + plan parity."""

    def _plan_ops(self, df) -> list[str]:
        """Normalized physical-plan shape: the operator name sequence,
        stripped of column names / expr ids, so two plans compare equal
        iff they run the same operators in the same tree order."""
        import re
        text = df._jdf.queryExecution().executedPlan().toString()
        ops = []
        for line in text.splitlines():
            m = re.search(r"(?:\*\(\d+\) |[+:\- ]*)([A-Za-z]\w+)", line)
            if m:
                ops.append(m.group(1))
        return ops

    def test_wedge_binding_table(self, spark):
        from research_index_backend_spark.graph.queries import PropertyGraph
        e = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (1, 20), (4, 20)], ["a", "p"])
        g = PropertyGraph().with_edges("supplies", e, src="a", dst="p")
        rows = {(r["x"], r["part"], r["y"]) for r in
                g.match("(x)-[:supplies]->(part)<-[:supplies]-(y)")
                 .filter("x < y").collect()}
        assert rows == {(1, 10, 2), (1, 10, 3), (2, 10, 3), (1, 20, 4)}

    def test_closing_edge_and_edge_props(self, spark):
        from research_index_backend_spark.graph.queries import PropertyGraph
        # triangle 1-2-3 plus dangling edge 3-4; weight rides along
        e = spark.createDataFrame(
            [(1, 2, 12), (1, 3, 13), (2, 3, 23), (3, 4, 34)],
            ["src", "dst", "wt"])
        g = PropertyGraph().with_edges("o", e)
        tri = g.match("(u)-[e1:o]->(v), (u)-[e2:o]->(w), (v)-[:o]->(w)") \
               .filter("e1_wt < e2_wt").collect()
        assert [(r["u"], r["v"], r["w"]) for r in tri] == [(1, 2, 3)]
        assert tri[0]["e1_wt"] == 12 and tri[0]["e2_wt"] == 13

    def test_label_constraint_and_props(self, spark):
        from research_index_backend_spark.graph.queries import PropertyGraph
        e = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["s", "n"])
        nodes = spark.createDataFrame(
            [(10, "ten"), (20, "twenty")], ["id", "name"])
        g = (PropertyGraph()
             .with_nodes("num", nodes, props=("name",), broadcast=True)
             .with_edges("loc", e, src="s", dst="n"))
        got = {(r["x"], r["n_name"]) for r in
               g.match("(x)-[:loc]->(n:num)").collect()}
        assert got == {(1, "ten"), (2, "twenty")}  # 30 unregistered -> out

    def test_disconnected_hop_rejected(self, spark):
        import pytest as _pytest
        from research_index_backend_spark.graph.queries import PropertyGraph
        e = spark.createDataFrame([(1, 2)], ["src", "dst"])
        g = PropertyGraph().with_edges("r", e)
        with _pytest.raises(ValueError, match="cartesian"):
            g.match("(a)-[:r]->(b), (c)-[:r]->(d)")

    def test_two_hop_plan_unchanged_by_motif_rewire(self, spark):
        """q_graph_two_hop now compiles through match(); its physical
        plan must be the hand-written two-self-join plan."""
        from pyspark.sql import functions as F
        from research_index_backend_spark.plans.queries import (
            TWO_HOP_DEGREE_CAP, _t, q_graph_two_hop)
        sf = "/root/testdata/sf0.001"
        li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey") \
            .distinct()
        ok = (li.groupBy("l_partkey")
              .agg(F.count(F.lit(1)).alias("__deg"))
              .filter(F.col("__deg") <= TWO_HOP_DEGREE_CAP)
              .select("l_partkey"))
        li = li.join(ok, "l_partkey", "left_semi")
        a = li.select("l_partkey", F.col("l_suppkey").alias("supp_a"))
        b = li.select("l_partkey", F.col("l_suppkey").alias("supp_b"))
        hand = (a.join(b, "l_partkey")
                .filter(F.col("supp_a") < F.col("supp_b"))
                .groupBy("supp_a", "supp_b")
                .agg(F.count(F.lit(1)).alias("shared_parts")))
        assert self._plan_ops(q_graph_two_hop(spark, sf)) == \
            self._plan_ops(hand)

    def test_reference_shape_coauthorship(self, spark):
        """The reference's co-authorship MATCH on the ingest graph's
        actual edge schema (author_of: author_uuid -> output_uuid,
        pipeline.py build_graph_from_envelopes): labeled vars pull
        Author props (inner join) and constrain to Output (left-semi,
        no props); the un-aliased edge drops its rank property."""
        from research_index_backend_spark.graph.queries import PropertyGraph
        authors = spark.createDataFrame(
            [("a1", "Lucy"), ("a2", "Joe"), ("a3", "Zoe")],
            ["uuid", "first_name"])
        outputs = spark.createDataFrame([("o1",), ("o2",)], ["uuid"])
        author_of = spark.createDataFrame(
            [("a1", "o1", 1), ("a2", "o1", 2),
             ("a1", "o2", 1), ("a3", "o2", 2)],
            ["author_uuid", "output_uuid", "rank"])
        g = (PropertyGraph()
             .with_nodes("Author", authors, id_col="uuid",
                         props=("first_name",))
             .with_nodes("Output", outputs, id_col="uuid")
             .with_edges("author_of", author_of,
                         src="author_uuid", dst="output_uuid"))
        wedges = g.match("(x:Author)-[:author_of]->(o:Output)"
                         "<-[:author_of]-(y:Author)").filter("x < y")
        rows = wedges.collect()
        assert {(r["x"], r["o"], r["y"]) for r in rows} == \
            {("a1", "o1", "a2"), ("a1", "o2", "a3")}
        names = {(r["x_first_name"], r["y_first_name"]) for r in rows}
        assert names == {("Lucy", "Joe"), ("Lucy", "Zoe")}
        assert "rank" not in wedges.columns  # unaliased edge: no props

    def test_degenerate_patterns_rejected(self, spark):
        import pytest as _pytest
        from research_index_backend_spark.graph.queries import PropertyGraph
        e = spark.createDataFrame([(1, 2)], ["src", "dst"])
        g = PropertyGraph().with_edges("r", e)
        with _pytest.raises(ValueError, match="self-loop"):
            g.match("(a)-[:r]->(a)")
        with _pytest.raises(ValueError, match="not unique"):
            g.match("(a)-[e1:r]->(b), (b)-[e1:r]->(c)")


class TestRandomWalkBroadcastGate:
    """r12 ADVICE item 4: the frontier broadcast hint in
    graph_random_walk is only safe under the bounded-seed contract;
    the gate ties it to the stats-sidecar seed estimate in code."""

    SF = "/root/testdata/sf0.001"

    def _analyzed(self, df):
        return df._jdf.queryExecution().analyzed().toString()

    def test_hint_present_under_bounded_seed_contract(self, spark):
        import os
        if not os.path.isdir(self.SF):
            pytest.skip("testdata not present")
        from research_index_backend_spark.plans import queries_ext15 as m
        df = m.q_graph_random_walk(spark, self.SF)
        # default contract: ~|customer|/97 seeds << 2M -> hint applied
        assert "strategy=broadcast" in self._analyzed(df)

    def test_hint_dropped_when_seed_estimate_exceeds_cap(
            self, spark, monkeypatch):
        import os
        if not os.path.isdir(self.SF):
            pytest.skip("testdata not present")
        from research_index_backend_spark.plans import queries_ext15 as m
        monkeypatch.setattr(m, "_RW_BROADCAST_MAX_SEEDS", 0)
        df = m.q_graph_random_walk(spark, self.SF)
        # oversized walker population: no forced BHJ, AQE decides
        assert "strategy=broadcast" not in self._analyzed(df)
        # and the gate changes STRATEGY only, never answers
        monkeypatch.undo()
        hinted = m.q_graph_random_walk(spark, self.SF)
        assert sorted(map(tuple, df.collect())) == \
            sorted(map(tuple, hinted.collect()))
