"""Catalog extension 23 (round 9, wave 4). Language-model retrieval and
graph structure:

  qlm_dirichlet_topk        query-likelihood retrieval with Dirichlet
                            smoothing — the OTHER classical lexical
                            ranker next to BM25 (Zhai & Lafferty),
                            exact on a documented integer scale ladder
                            (no log, no float)
  rich_club_coefficient     rich-club connectivity phi(k) of the part
                            co-purchase hub core: how densely the
                            high-degree elite wires to itself — the
                            structural partner of graph_assortativity
  harmonic_centrality_seeds per-seed harmonic centrality (sum of 1/d
                            over reached nodes, d <= 3) for the
                            highest-degree suppliers via per-seed
                            frontier-only BFS — the reachability
                            influence score, exact on the 1e6 div d
                            lattice

Reference parity: none in the reference; IR / graph-analytics
extension families (the Cypher surface's variable-length-path and
centrality idioms re-expressed as DataFrame plans).

Cross-engine determinism (SURVEY 4.4): QL smoothing runs on the
integer ladder pc_e12 = (1e12*cf) div C, term_e6 = (tf*1e12 +
mu*pc_e12) div 1e6, score_e6 = (1e6 * prod(term_e6)) div (dl+mu)^3 —
every floor applied identically in both engines, products bounded
inside decimal(38,0) by the e6 rescale (raw e12 products would
overflow 38 digits); rich-club and harmonic are pure integer counts
with (value, id) total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t

QUERIES_EXT23: dict = {}
ORACLE_EXT23: dict = {}


# ---------------------------------------------------------------------------
# qlm_dirichlet_topk — query-likelihood retrieval, Dirichlet smoothing
# ---------------------------------------------------------------------------

_QL_TERMS = ("vector", "hash", "window")
_QL_MU = 2000
_QL_TOPK = 10


def q_qlm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_QL_TOPK} documents by Dirichlet-smoothed query likelihood
    for a fixed 3-term query: p(t|d) = (tf + mu*p(t|C)) / (dl + mu),
    scored as the product over query terms. Candidates are documents
    containing at least one query term (the impact-ordered-postings
    practice — a no-term doc's score carries no tf signal and never
    enters a top-k at realistic k). Integer ladder, identical in both
    engines: pc_e12 = (1e12*cf) div C; term_e6 = (tf*1e12 +
    {_QL_MU}*pc_e12) div 1e6 = 1e6*(tf + mu*pc), so the 3-term product
    num = 1e18 * prod(tf + mu*pc) stays inside decimal(38,0) for
    dl+mu up to ~2e6; score_e18 = num div (dl + {_QL_MU})^3 =
    1e18 * p(q|d) <= 1e18 (tf <= dl and pc <= 1 bound p by 1), so the
    reported score is bigint-safe at ANY corpus scale. Ranking
    (score desc, doc_id) is total; the top-k set needs no rank column
    (the record_linkage rule).

    Scale shape: one tokenize pass feeds doc length AND the term-
    pruned tf (the bm25_topk shape — the isin filter prunes the
    explode before any shuffle); corpus stats (C, cf per term) are a
    1-row / 3-row broadcast; candidates cross the 3-row term dim
    (BNLJ-allowlisted) so missing terms contribute their smoothing
    mass without scoring the whole corpus; top-k is TakeOrdered.

    At extreme corpus scale the pc_e12 lattice floors a term with
    cf/C < 1e-12 to zero — the documented precision horizon (1e12
    tokens per distinct query term; widen the ladder if a corpus
    crosses it).
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    docs = (d.select("doc_id", toks.alias("toks"))
            .select("doc_id", F.size("toks").alias("dl"),
                    F.explode("toks").alias("term"))
            .localCheckpoint())   # tokenize once for tf, dl, cf and C
    c_tot = (docs.groupBy("doc_id").agg(F.first("dl").alias("dl"))
             .agg(F.sum("dl").alias("c")))
    cf = (docs.filter(F.col("term").isin(*_QL_TERMS))
          .groupBy("term").agg(F.count(F.lit(1)).alias("cf")))
    pc = (cf.crossJoin(F.broadcast(c_tot))
          .select("term",
                  F.expr("(1000000000000 * CAST(cf AS DECIMAL(38,0)))"
                         " div c").alias("pc_e12")))
    tf = (docs.filter(F.col("term").isin(*_QL_TERMS))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")))
    cand = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    full = (cand.crossJoin(F.broadcast(pc))
            .join(tf.select("doc_id", "term", "tf"),
                  ["doc_id", "term"], "left")
            .select("doc_id", "dl", "pc_e12",
                    F.coalesce("tf", F.lit(0)).alias("tf")))
    term_e6 = F.expr(
        f"(CAST(tf AS DECIMAL(38,0)) * 1000000000000"
        f" + {_QL_MU} * pc_e12) div 1000000")
    scored = (full.withColumn("t6", term_e6)
              .groupBy("doc_id")
              .agg(F.first("dl").alias("dl"),
                   # sorted product fold: 3 bounded factors, exact
                   F.expr("aggregate(array_sort(collect_list(t6)),"
                          " CAST(1 AS DECIMAL(38,0)), (a, x) -> a * x)")
                   .alias("num")))
    return (scored.select(
        "doc_id", F.col("dl").cast("bigint").alias("dl"),
        # num = 1e18 * prod(tf + mu*pc) and prod <= (dl+mu)^3 (tf <= dl,
        # pc <= 1), so num div den = 1e18 * p(q|d) <= 1e18 — bigint-safe
        F.expr(f"num div (CAST(dl + {_QL_MU} AS"
               f" DECIMAL(38,0)) * (dl + {_QL_MU}) * (dl + {_QL_MU}))")
        .cast("bigint").alias("score_e18"))
        .orderBy(F.desc("score_e18"), "doc_id")
        .limit(_QL_TOPK))


ORACLE_QLM = rf"""
WITH docs AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS toks
        FROM documents)
),
c_tot AS (
  SELECT CAST(sum(dl) AS HUGEINT) AS c
  FROM (SELECT doc_id, any_value(dl) AS dl FROM docs GROUP BY doc_id)
),
cf AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS cf FROM docs
  WHERE term IN ('vector', 'hash', 'window') GROUP BY 1
),
pc AS (
  SELECT term, (1000000000000 * cf) // c AS pc_e12 FROM cf, c_tot
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS HUGEINT) AS tf,
         any_value(dl) AS dl
  FROM docs WHERE term IN ('vector', 'hash', 'window')
  GROUP BY 1, 2
),
cand AS (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY 1),
fullx AS (
  SELECT cand.doc_id, cand.dl, pc.pc_e12,
         coalesce(tf.tf, 0) AS tf
  FROM cand CROSS JOIN pc
  LEFT JOIN tf ON cand.doc_id = tf.doc_id AND pc.term = tf.term
),
terms AS (
  SELECT doc_id, dl,
         (CAST(tf AS HUGEINT) * 1000000000000
          + {_QL_MU} * pc_e12) // 1000000 AS t6
  FROM fullx
),
scored AS (
  SELECT doc_id, any_value(dl) AS dl,
         list_reduce(list_sort(list(t6)), (a, x) -> a * x) AS num
  FROM terms GROUP BY doc_id
)
SELECT doc_id, CAST(dl AS BIGINT) AS dl,
       CAST(num // (CAST(dl + {_QL_MU} AS HUGEINT)
            * (dl + {_QL_MU}) * (dl + {_QL_MU})) AS BIGINT) AS score_e18
FROM scored
ORDER BY score_e18 DESC, doc_id
LIMIT {_QL_TOPK}
"""


# ---------------------------------------------------------------------------
# rich_club_coefficient — elite-to-elite connectivity of the hub core
# ---------------------------------------------------------------------------

_RC_CORE = 600
_RC_KS = (4, 8, 16, 32, 64)


def q_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club connectivity of the part co-purchase hub core: for
    each degree threshold k in {_RC_KS}, phi(k) = 2*E_k / (N_k*(N_k-1))
    where N_k nodes have core-degree > k and E_k edges join two such
    nodes — does the high-degree elite preferentially wire to itself
    (phi -> 1) or not. The structural partner of graph_assortativity
    (that reports one correlation; this reports the full club ladder).
    phi_e6 is exact integer arithmetic; thresholds with N_k < 2 are
    filtered (undefined denominator).

    Scale shape: the hub core bounds everything at K={_RC_CORE}
    (distributed TakeOrdered + broadcast semi-joins, the
    graph_clustering_coeff machinery); the k-ladder rides one explode
    over the K-bounded edge/node tables — no per-k recomputation, a
    single plan.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pb"))
    edges_all = (a.join(b, "o")
                 .filter(F.col("pa") < F.col("pb"))
                 .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
                 .distinct().localCheckpoint())
    nodes_all = (edges_all.select(F.col("u").alias("id"))
                 .unionAll(edges_all.select(F.col("v").alias("id"))))
    deg_all = nodes_all.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    top = (deg_all.orderBy(F.col("deg").desc(), "id").limit(_RC_CORE)
           .select("id"))
    edges = (edges_all
             .join(F.broadcast(top.select(F.col("id").alias("u"))),
                   "u", "semi")
             .join(F.broadcast(top.select(F.col("id").alias("v"))),
                   "v", "semi")
             .select("u", "v").localCheckpoint())
    nodes = (edges.select(F.col("u").alias("id"))
             .unionAll(edges.select(F.col("v").alias("id"))))
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    ks = F.array(*[F.lit(k) for k in _RC_KS])
    nk = (deg.select("deg", F.explode(ks).alias("k"))
          .filter(F.col("deg") > F.col("k"))
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_nodes")))
    ed = (edges.join(deg.select(F.col("id").alias("u"),
                                F.col("deg").alias("du")), "u")
          .join(deg.select(F.col("id").alias("v"),
                           F.col("deg").alias("dv")), "v"))
    ek = (ed.select("du", "dv", F.explode(ks).alias("k"))
          .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_edges")))
    return (nk.join(ek, "k", "left")
            .filter(F.col("n_nodes") >= 2)
            .select(F.col("k").cast("bigint").alias("k"),
                    F.col("n_nodes").cast("bigint").alias("n_nodes"),
                    F.coalesce("n_edges", F.lit(0)).cast("bigint")
                    .alias("n_edges"),
                    F.expr("(1000000 * 2 * coalesce(n_edges, 0))"
                           " div (n_nodes * (n_nodes - 1))")
                    .cast("bigint").alias("phi_e6"))
            .orderBy("k"))


_RC_KS_SQL = ", ".join(str(k) for k in _RC_KS)

ORACLE_RICH_CLUB = f"""
WITH edges_all AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
nodes_all AS (
  SELECT u AS id FROM edges_all UNION ALL SELECT v FROM edges_all
),
deg_all AS (SELECT id, count(*) AS deg FROM nodes_all GROUP BY id),
top AS (SELECT id FROM deg_all ORDER BY deg DESC, id LIMIT {_RC_CORE}),
edges AS (
  SELECT u, v FROM edges_all
  WHERE u IN (SELECT id FROM top) AND v IN (SELECT id FROM top)
),
nodes AS (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges),
deg AS (SELECT id, count(*) AS deg FROM nodes GROUP BY id),
ks AS (SELECT unnest([{_RC_KS_SQL}]) AS k),
nk AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg, ks WHERE deg > k GROUP BY k
),
ek AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM edges e
  JOIN deg du ON e.u = du.id
  JOIN deg dv ON e.v = dv.id, ks
  WHERE du.deg > k AND dv.deg > k
  GROUP BY k
)
SELECT CAST(nk.k AS BIGINT) AS k, n_nodes,
       CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
       CAST((1000000 * 2 * coalesce(ek.n_edges, 0))
            // (n_nodes * (n_nodes - 1)) AS BIGINT) AS phi_e6
FROM nk LEFT JOIN ek ON nk.k = ek.k
WHERE n_nodes >= 2
ORDER BY k
"""


# ---------------------------------------------------------------------------
# harmonic_centrality_seeds — per-seed frontier BFS influence score
# ---------------------------------------------------------------------------

_HC_SEEDS = 3
_HC_DEPTH = 3


def q_harmonic_centrality_seeds(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Harmonic centrality (<= {_HC_DEPTH} hops) for the {_HC_SEEDS}
    highest-degree suppliers in the symmetrized supplier-part graph:
    H(s) = sum over reached nodes of 1e6 div d — the
    reachability-influence score, reported with per-depth reach
    counts. Unlike graph_bfs_depth (one merged distance field), the
    state here is PER-SEED (seed, node, d) — the multi-landmark BFS
    every distance-sketch / closeness estimator runs.

    Scale shape: per-seed frontier-only expansion on the shared
    superstep operator, keyed on (seed, id): round r sends d + 1 only
    from the (seed, id) pairs reached in round r-1 and keeps the min
    per pair; rounds are a fixed constant; seeds are a {_HC_SEEDS}-row
    TakeOrdered. The DuckDB twin is a recursive CTE over
    (seed, id, d) states with min-depth dedup.

    Node ids are NARROWED to BIGINT internally (supplier 2k, part
    2k+1; the r4 fingerprint-narrowing class) and the seed label
    decoded only in the {_HC_SEEDS}-row output: the r10 100x probe
    caught the string-id variant ('s123'/'p456' through a 100M-edge
    checkpoint and a 3x|E|-row frontier distinct) dying on GC
    pressure in the 16g local harness, while the BIGINT states run
    the identical plan in a fraction of the bytes. The string-id
    encoding survives only in the oracle, whose states never leave
    DuckDB.
    """
    from ..graph.analytics import relax, superstep
    from .queries_ext5 import _sym_supplier_edges_i
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_suppkey", "l_partkey").distinct())
    seeds = (li.groupBy("l_suppkey")
             .agg(F.count(F.lit(1)).alias("deg"))
             .orderBy(F.col("deg").desc(), "l_suppkey")
             .limit(_HC_SEEDS)
             .select((F.col("l_suppkey").cast("bigint") * 2)
                     .alias("seed")))
    dist = superstep(
        _sym_supplier_edges_i(li),
        lambda e: seeds.select("seed", F.col("seed").alias("id"),
                               F.lit(0).cast("int").alias("d"),
                               F.lit(True).alias("active")),
        ["seed", "id"], F.col("d") + 1, F.min, relax, _HC_DEPTH,
        active="active")
    reached = dist.filter(F.col("d") > 0)
    return (reached.groupBy("seed")
            .agg(*[F.sum(F.when(F.col("d") == r, 1).otherwise(0))
                   .cast("bigint").alias(f"n_d{r}")
                   for r in range(1, _HC_DEPTH + 1)],
                 F.sum(F.expr("1000000 div d")).cast("bigint")
                 .alias("harmonic_e6"))
            .select(F.concat(F.lit("s"),
                             F.expr("seed div 2").cast("string"))
                    .alias("seed"),
                    *[f"n_d{r}" for r in range(1, _HC_DEPTH + 1)],
                    "harmonic_e6")
            .orderBy("seed"))


ORACLE_HARMONIC = f"""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), fwd AS (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst FROM li
), edges AS (
  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
), seeds AS (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS seed
  FROM (SELECT l_suppkey, count(*) AS deg FROM li GROUP BY 1
        ORDER BY deg DESC, l_suppkey LIMIT {_HC_SEEDS})
), bfs(seed, id, d) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT b.seed, e.dst, b.d + 1
  FROM bfs b JOIN edges e ON b.id = e.src
  WHERE b.d < {_HC_DEPTH}
), dist AS (
  SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2
)
SELECT seed,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
       CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
       CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
       CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6
FROM dist WHERE d > 0
GROUP BY seed
ORDER BY seed
"""


QUERIES_EXT23.update({
    "qlm_dirichlet_topk": q_qlm_dirichlet_topk,
    "rich_club_coefficient": q_rich_club_coefficient,
    "harmonic_centrality_seeds": q_harmonic_centrality_seeds,
})
ORACLE_EXT23.update({
    "qlm_dirichlet_topk": ORACLE_QLM,
    "rich_club_coefficient": ORACLE_RICH_CLUB,
    "harmonic_centrality_seeds": ORACLE_HARMONIC,
})


# ---------------------------------------------------------------------------
# stream_drift_twin — oracle-checked batch twin of the streaming monitor
# ---------------------------------------------------------------------------

def q_stream_drift_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/drift.py's drift_monitor_stream FINAL
    emission, on the events table: per type, the first REF_N values in
    (ts, event_id) order freeze as the reference histogram; everything
    after scores as cumulative total-variation distance tv_e6 =
    (1e6 * sum_b |r_b*n_cur - c_b*n_ref|) div (2*n_ref*n_cur) on the
    domain-bounded bin lattice. The streaming operator itself is
    pytest-pinned (batch parity + micro-batch-split invariance,
    tests/test_streaming_drift.py); this entry gives the SAME
    arithmetic an official DuckDB row.

    Scale shape: the reference split is one window partitioned by type
    (the sessionize shuffle); histograms reduce map-side to |types| x
    |domain/BIN_W| rows; the statistic is one combinable aggregate.
    """
    from ..streaming.drift import drift_monitor_batch
    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_e2"),
        F.col("ts_ns").alias("ts"))
    return (drift_monitor_batch(e)
            .select("event_type",
                    F.col("n_ref").cast("bigint").alias("n_ref"),
                    F.col("n_cur").cast("bigint").alias("n_cur"),
                    F.col("tv_e6").cast("bigint").alias("tv_e6"))
            .orderBy("event_type"))


ORACLE_STREAM_DRIFT = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_e2,
         epoch_ns(ts) AS ts
  FROM events
),
split AS (
  SELECT event_type, v_e2 // 4096 AS bin,
         CASE WHEN row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) <= 200
              THEN 'ref' ELSE 'cur' END AS side
  FROM e
),
h AS (
  SELECT event_type, bin,
         sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS r,
         sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS c
  FROM split GROUP BY 1, 2
),
n AS (
  SELECT event_type, sum(r) AS n_ref, sum(c) AS n_cur
  FROM h GROUP BY 1
)
SELECT h.event_type,
       CAST(any_value(n_ref) AS BIGINT) AS n_ref,
       CAST(any_value(n_cur) AS BIGINT) AS n_cur,
       CAST(CASE WHEN any_value(n_ref) > 0 AND any_value(n_cur) > 0
                 THEN (1000000 * sum(abs(r * n_cur - c * n_ref)))
                      // (2 * any_value(n_ref) * any_value(n_cur))
                 ELSE 0 END AS BIGINT) AS tv_e6
FROM h JOIN n ON h.event_type = n.event_type
GROUP BY h.event_type
ORDER BY h.event_type
"""


QUERIES_EXT23.update({"stream_drift_twin": q_stream_drift_twin})
ORACLE_EXT23.update({"stream_drift_twin": ORACLE_STREAM_DRIFT})
