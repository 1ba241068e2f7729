"""Catalog extension 28 (round 9, second session, wave 3). Graph
ranking + cohesion:

  hits_hubs_authorities  fixed-iteration HITS (Kleinberg) over the
                         directed supplier->part graph: hub and
                         authority scores with per-round L1
                         normalization — the bipartite companion to
                         graph_pagerank
  textrank_keywords      TextRank keyword extraction: weighted
                         PageRank over the word co-occurrence
                         (bigram) graph — the unsupervised keyword
                         ranker (Mihalcea & Tarau 2004)
  ktruss_edges           bounded k-truss peel (k = 4, 2 rounds) of
                         the near-dup candidate graph: edges whose
                         triangle support survives peeling — the
                         cohesion core k-core can't see (k-core keeps
                         degree, truss keeps MUTUAL triangles)

Reference parity: none in the reference (its graph lives in Memgraph
Cypher, create_graph.py); these extend the graph family of
queries_ext/ext3/ext5 with the same determinism contract.

Cross-engine determinism (SURVEY 4.4): the float recurrences (HITS,
TextRank) follow the graph_pagerank rule — identical IEEE-double
expression trees in both engines, integer quantization at e4 where a
last-ulp summation-order wobble cannot flip a rounding boundary, and
SCALE-RELATIVE quantization (score * n * 1e4, i.e. the ratio to the
uniform score) so values stay O(1) at any corpus size instead of
vanishing below the lattice. k-truss is all-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.analytics import pagerank, superstep
from .queries import _t

QUERIES_EXT28: dict = {}
ORACLE_EXT28: dict = {}


# ---------------------------------------------------------------------------
# hits_hubs_authorities — fixed-iteration HITS with L1 normalization
# ---------------------------------------------------------------------------

_HITS_ITER = 4


def q_hits_hubs_authorities(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """HITS over the directed supplier->part edge set (distinct
    lineitem pairs): authority(p) = sum of hub scores pointing at p,
    hub(s) = sum of authority scores s points at, {_HITS_ITER} full
    iterations from the uniform start — "which parts does everyone
    source, and which suppliers source all of those". Output one row
    per node: role ('hub'/'auth'), id, and score_rel_e4 =
    round(score * n_role / sum(score) * 1e4) — the ratio to the
    uniform score (scale-relative: L1-normalized scores shrink as 1/n
    and would vanish below any fixed lattice at corpus size).

    Normalization happens ONCE at the end: per-half-step L1 norms
    only rescale (HITS is scale-invariant in exact arithmetic), and
    the first cut of this query normalized every half-step — 8 extra
    broadcast-agg joins that benched 11.8s at sf0.1 vs 3-4s without.
    Unnormalized growth is bounded by (max_deg)^{2 * _HITS_ITER},
    astronomically inside double range for any real degree.

    Scale shape: each half-step is one superstep over the
    symmetrized supplier-part edge set (supplier 2k, part 2k+1): the
    side updated last round is broadcast onto the edges and its scores
    sum per destination. The state keeps the previous side as
    inactive rows, so after 2 * {_HITS_ITER} rounds it holds the final
    hub AND authority scores. The final norm + role count is a
    per-role aggregate broadcast back onto the scores (no driver
    round-trip).
    """
    from .queries_ext5 import _sym_supplier_edges_i
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_suppkey", "l_partkey").distinct())

    def init(e: DataFrame) -> DataFrame:
        return (e.filter(F.col("src") % 2 == 0)
                .select(F.col("src").alias("id")).distinct()
                .select("id", F.lit(1.0).alias("score"),
                        F.lit(True).alias("active")))

    def half_step(state: DataFrame, msgs: DataFrame) -> DataFrame:
        return (msgs.select("id", F.col("msg").alias("score"),
                            F.lit(True).alias("active"))
                .unionByName(state.filter("active").select(
                    "id", "score", F.lit(False).alias("active"))))

    scores = (superstep(_sym_supplier_edges_i(li), init, ["id"],
                        F.col("score"), F.sum, half_step, 2 * _HITS_ITER,
                        active="active")
              .select(F.when(F.col("id") % 2 == 0, "hub")
                      .otherwise("auth").alias("role"),
                      F.shiftright("id", 1).alias("id"), "score"))
    norm = scores.groupBy("role").agg(F.sum("score").alias("z"),
                                      F.count(F.lit(1)).alias("n"))
    return (scores.join(F.broadcast(norm), "role")
            .select("role", "id",
                    F.round(F.col("score") * F.col("n") / F.col("z") * 1e4)
                    .cast("bigint").alias("score_rel_e4"))
            .orderBy("role", "id"))


def _oracle_hits(n_iter: int = _HITS_ITER) -> str:
    parts = ["""
WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
h0 AS (SELECT DISTINCT l_suppkey, CAST(1.0 AS DOUBLE) AS h FROM li)"""]
    for i in range(1, n_iter + 1):
        # MATERIALIZED: DuckDB inlines CTEs by default, and the
        # iteration chain re-expands through every reference
        # (measured: the normalized 4-iteration unroll never
        # finished); materializing each stage keeps the oracle linear
        # like the Spark plan.
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT li.l_partkey, sum(h.h) AS a
  FROM li JOIN h{i - 1} h ON li.l_suppkey = h.l_suppkey
  GROUP BY li.l_partkey),
h{i} AS MATERIALIZED (
  SELECT li.l_suppkey, sum(a.a) AS h
  FROM li JOIN a{i} a ON li.l_partkey = a.l_partkey
  GROUP BY li.l_suppkey)""")
    parts.append(f""",
hn AS (SELECT sum(h) AS z, count(*) AS n FROM h{n_iter}),
an AS (SELECT sum(a) AS z, count(*) AS n FROM a{n_iter})
SELECT role, id, score_rel_e4 FROM (
  SELECT 'hub' AS role, CAST(l_suppkey AS BIGINT) AS id,
         CAST(round(h * hn.n / hn.z * 1e4) AS BIGINT) AS score_rel_e4
  FROM h{n_iter}, hn
  UNION ALL
  SELECT 'auth', CAST(l_partkey AS BIGINT),
         CAST(round(a * an.n / an.z * 1e4) AS BIGINT)
  FROM a{n_iter}, an)
ORDER BY role, id""")
    return "".join(parts)


ORACLE_HITS = _oracle_hits()


# ---------------------------------------------------------------------------
# textrank_keywords — weighted PageRank over the bigram graph
# ---------------------------------------------------------------------------

_TR_ITER = 4
_TR_TOPK = 20


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: build the word co-occurrence graph (adjacent
    token pairs, symmetrized, weight = co-occurrence count), run
    {_TR_ITER} iterations of weighted PageRank
    r(w) = (1-d)/N + d * sum_u r(u) * wt(u,w) / wdeg(u),
    report the top {_TR_TOPK} words as rank_rel_e4 (ratio to uniform,
    the graph_pagerank e4 quantization) with a word tie-break.

    Scale shape: the ONLY corpus-scale work is the bigram groupBy
    (combinable, the bigram_topk shape); every iteration then runs on
    the VOCABULARY-sized weighted edge list — bounded by |vocab|^2
    co-occurring pairs in the worst case and by observed adjacency in
    practice, corpus-independent. Rank frames broadcast onto the
    vocab edge join; no driver round-trips.
    """
    d = _t(spark, sf_dir, "documents")
    # Stage the token array to a NAMED column before the bigram
    # transform references it 4x — CollapseProject otherwise inlines
    # the regex split per reference (the r7 token_stats/quality_filter
    # duplicated-expression-tree lesson, 7.9x -> 5.0x there).
    tok_d = d.select(
        F.filter(F.split(F.lower("text"), r"\s+"),
                 lambda t: t != "").alias("toks"))
    tk = F.col("toks")
    bigrams = F.when(F.size(tk) < 2, F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat(F.element_at(tk, i), F.lit(" "),
                               F.element_at(tk, i + 1))))
    pair_cnt = (tok_d.select(F.explode(bigrams).alias("bg"))
                .groupBy("bg").agg(F.count(F.lit(1)).alias("wt"))
                .select(F.split("bg", " ").getItem(0).alias("w1"),
                        F.split("bg", " ").getItem(1).alias("w2"),
                        "wt")
                .filter(F.col("w1") != F.col("w2")))
    edges = (pair_cnt.select("w1", "w2", "wt")
             .unionAll(pair_cnt.select(F.col("w2").alias("w1"),
                                       F.col("w1").alias("w2"), "wt"))
             .groupBy("w1", "w2").agg(F.sum("wt").alias("wt"))
             .localCheckpoint())
    wdeg = edges.groupBy("w1").agg(F.sum("wt").alias("wdeg"))
    ew = edges.join(wdeg, "w1").select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"),
        (F.col("wt").cast("double") / F.col("wdeg")).alias("p"))
    r = pagerank(ew, n_iter=_TR_ITER, share=F.col("rank") * F.col("p"))
    n = r.count()
    return (r.select(F.col("id").alias("word"),
                     F.round(F.col("rank") * n * 1e4).cast("bigint")
                     .alias("rank_rel_e4"))
            .orderBy(F.desc("rank_rel_e4"), "word")
            .limit(_TR_TOPK))


def _oracle_textrank(n_iter: int = _TR_ITER) -> str:
    parts = [r"""
WITH t AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), pc AS (
  SELECT w1, w2, count(*) AS wt FROM bg
  WHERE w1 <> w2 GROUP BY 1, 2
), edges AS (
  SELECT w1, w2, sum(wt) AS wt FROM (
    SELECT w1, w2, wt FROM pc
    UNION ALL SELECT w2, w1, wt FROM pc)
  GROUP BY 1, 2
), wdeg AS (SELECT w1, sum(wt) AS wdeg FROM edges GROUP BY 1),
ew AS (
  SELECT e.w1, e.w2, CAST(e.wt AS DOUBLE) / d.wdeg AS p
  FROM edges e JOIN wdeg d ON e.w1 = d.w1
), nodes AS (SELECT DISTINCT w1 AS word FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT word, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
       FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
c{i} AS (
  SELECT ew.w2 AS word, sum(r.rank * ew.p) AS in_sum
  FROM ew JOIN r{i - 1} r ON ew.w1 = r.word
  GROUP BY ew.w2),
r{i} AS (
  SELECT nodes.word,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(c{i}.in_sum, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.word = c{i}.word)""")
    parts.append(f"""
SELECT word,
       CAST(round(rank * (SELECT n FROM nn) * 1e4) AS BIGINT)
         AS rank_rel_e4
FROM r{n_iter}
ORDER BY rank_rel_e4 DESC, word
LIMIT {_TR_TOPK}""")
    return "".join(parts)


ORACLE_TEXTRANK = _oracle_textrank()


# ---------------------------------------------------------------------------
# ktruss_edges — bounded k-truss peel of the near-dup graph
# ---------------------------------------------------------------------------

_KT_K = 4          # k-truss: every edge in >= k-2 = 2 triangles
_KT_ROUNDS = 2     # bounded peel (the kcore capped-oracle contract)
_KT_SHIFT = 2 ** 33


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support via the degree-oriented wedge join
    (the graph_triangles O(sqrt(m)) fanout shape): each triangle is
    found once at its pi-smallest vertex, then credits all THREE of
    its edges through an in-row explode."""
    nodes = e.select(F.col("id_a").alias("id")) \
        .unionAll(e.select(F.col("id_b").alias("id")))
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    k = deg.select("id", (F.col("deg") * F.lit(_KT_SHIFT)
                          + F.col("id")).alias("pk"))
    ed = (e.join(k.select(F.col("id").alias("id_a"),
                          F.col("pk").alias("ka")), "id_a")
          .join(k.select(F.col("id").alias("id_b"),
                         F.col("pk").alias("kb")), "id_b"))
    a_first = F.col("ka") < F.col("kb")
    o = ed.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b"))
        .alias("src"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a"))
        .alias("dst"),
        F.when(a_first, F.col("kb")).otherwise(F.col("ka"))
        .alias("kdst")).localCheckpoint()
    o1 = o.alias("o1")
    o2 = o.alias("o2")
    o3 = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                   & (F.col("o1.kdst") < F.col("o2.kdst")))
           .select(F.col("o1.src").alias("u"),
                   F.col("o1.dst").alias("v"),
                   F.col("o2.dst").alias("w"))
           .join(o3, ["v", "w"]))
    sides = tri.select(F.explode(F.array(
        F.struct(F.least("u", "v").alias("id_a"),
                 F.greatest("u", "v").alias("id_b")),
        F.struct(F.least("u", "w").alias("id_a"),
                 F.greatest("u", "w").alias("id_b")),
        F.struct(F.least("v", "w").alias("id_a"),
                 F.greatest("v", "w").alias("id_b")))).alias("s")) \
        .select("s.id_a", "s.id_b")
    return sides.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("support"))


def q_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded {_KT_K}-truss peel of the near-dup candidate graph
    (LSH pair edges): {_KT_ROUNDS} rounds of "drop every edge in
    fewer than {_KT_K}-2 triangles", then report the survivors with
    their final support — the cohesion core that separates genuine
    dup CLIQUES from chains k-core can't tell apart (a long path is
    2-core-ish but 0-truss). Bounded rounds with an identically
    capped oracle (the kcore_decompose contract: a fixpoint loop
    would early-exit on the same frames; the cap keeps the oracle an
    unrolled CTE).

    Scale shape: each round's support computation is the
    graph_triangles degree-oriented wedge join (per-node fanout
    bounded O(sqrt m)) plus an in-row 3-edge explode and a combinable
    count; the peel filter is a broadcast-joinable |E|-row frame.
    """
    from .queries import q_dedup_lsh_pairs
    e = (q_dedup_lsh_pairs(spark, sf_dir)
         .select("id_a", "id_b").localCheckpoint())
    for _ in range(_KT_ROUNDS):
        sup = _edge_support(e)
        e = (e.join(sup, ["id_a", "id_b"], "left")
             .filter(F.coalesce(F.col("support"), F.lit(0))
                     >= _KT_K - 2)
             .select("id_a", "id_b").localCheckpoint())
    final = (e.join(_edge_support(e), ["id_a", "id_b"], "left")
             .select(F.col("id_a").cast("bigint").alias("id_a"),
                     F.col("id_b").cast("bigint").alias("id_b"),
                     F.coalesce(F.col("support"), F.lit(0))
                     .cast("bigint").alias("support")))
    return final.orderBy("id_a", "id_b")


def _oracle_ktruss() -> str:
    from .queries import ORACLE_LSH

    def support(edge_cte: str, pfx: str) -> str:
        return f"""
{pfx}nodes AS (SELECT id_a AS id FROM {edge_cte}
  UNION ALL SELECT id_b FROM {edge_cte}),
{pfx}deg AS (SELECT id, count(*) AS deg FROM {pfx}nodes GROUP BY id),
{pfx}k AS (SELECT id, deg * {_KT_SHIFT} + id AS pk FROM {pfx}deg),
{pfx}o AS MATERIALIZED (
  SELECT CASE WHEN ka.pk < kb.pk THEN e.id_a ELSE e.id_b END AS src,
         CASE WHEN ka.pk < kb.pk THEN e.id_b ELSE e.id_a END AS dst,
         CASE WHEN ka.pk < kb.pk THEN kb.pk ELSE ka.pk END AS kdst
  FROM {edge_cte} e JOIN {pfx}k ka ON ka.id = e.id_a
  JOIN {pfx}k kb ON kb.id = e.id_b),
{pfx}tri AS (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
  FROM {pfx}o o1 JOIN {pfx}o o2
    ON o1.src = o2.src AND o1.kdst < o2.kdst
  JOIN {pfx}o o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
{pfx}sides AS (
  SELECT least(u, v) AS id_a, greatest(u, v) AS id_b FROM {pfx}tri
  UNION ALL
  SELECT least(u, w), greatest(u, w) FROM {pfx}tri
  UNION ALL
  SELECT least(v, w), greatest(v, w) FROM {pfx}tri),
{pfx}sup AS MATERIALIZED (
  SELECT id_a, id_b, count(*) AS support
  FROM {pfx}sides GROUP BY 1, 2)"""

    sql = (f"WITH lsh AS MATERIALIZED ({ORACLE_LSH}),\n"
          "e0 AS MATERIALIZED (SELECT id_a, id_b FROM lsh)")
    cur = "e0"
    for r in range(_KT_ROUNDS):
        pfx = f"r{r}_"
        sql += "," + support(cur, pfx)
        sql += f""",
e{r + 1} AS MATERIALIZED (
  SELECT e.id_a, e.id_b
  FROM {cur} e LEFT JOIN {pfx}sup s
    ON e.id_a = s.id_a AND e.id_b = s.id_b
  WHERE coalesce(s.support, 0) >= {_KT_K - 2})"""
        cur = f"e{r + 1}"
    sql += "," + support(cur, "fin_")
    sql += f"""
SELECT CAST(e.id_a AS BIGINT) AS id_a,
       CAST(e.id_b AS BIGINT) AS id_b,
       CAST(coalesce(s.support, 0) AS BIGINT) AS support
FROM {cur} e LEFT JOIN fin_sup s
  ON e.id_a = s.id_a AND e.id_b = s.id_b
ORDER BY e.id_a, e.id_b"""
    return sql


ORACLE_KTRUSS = _oracle_ktruss()


QUERIES_EXT28.update({
    "hits_hubs_authorities": q_hits_hubs_authorities,
    "textrank_keywords": q_textrank_keywords,
    "ktruss_edges": q_ktruss_edges,
})
ORACLE_EXT28.update({
    "hits_hubs_authorities": ORACLE_HITS,
    "textrank_keywords": ORACLE_TEXTRANK,
    "ktruss_edges": ORACLE_KTRUSS,
})
