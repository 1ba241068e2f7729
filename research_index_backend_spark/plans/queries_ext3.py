"""Catalog extension 3 — retrieval + training-data hygiene operators.

  bm25_topk              BM25 ranked retrieval for a term query (IR / RAG)
  decontaminate_overlap  eval-set n-gram contamination flags
  text_repetition        Gopher-style repetition signals per document
  range_banded_join      value-in-range lookup as a banded equi-join
  listagg_report         ordered string aggregation (LISTAGG twin)
  rerank_topk            retrieve-then-rerank (BM25 -> Jaccard rescore)
  graph_triangles        degree-oriented triangle count of the dup graph
  weighted_sample        deterministic A-ES weighted sampling
  lm_quality_score       self-trained char-bigram LM perplexity proxy
  minhash_estimate       Jaccard estimates from MinHash signatures
  media_features         mapInPandas feature extraction, oracle-verified
  range_frame_window     per-event trailing-interval RANGE frame
  pareto_frontier        2-D skyline: O(n log n) plan vs quadratic oracle

These extend the LLM-pipeline surface (SURVEY.md §2 extensions): BM25 is
the lexical-retrieval baseline every RAG corpus needs next to the ANN
operators (operators/ann.py); decontamination is the standard guard
against benchmark leakage into training data (n-gram overlap against a
held-out eval set); repetition fractions are the Gopher/C4-style quality
signals used to drop degenerate documents before training.

Determinism rules (same as the rest of the catalog): every ratio/score is
quantized to an e6 integer before compare/threshold; double summations
fold in an explicitly sorted order (F.aggregate over a sorted array —
hash-agg sum order is engine-dependent); ties rank by natural keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import (
    BM25_STATS_SQL,
    bm25,
    bm25_sql,
    bm25_stats,
    doc_terms,
    doc_terms_sql,
    tokens,
    tokens_sql,
)
from .queries import _t

QUERIES_EXT3: dict = {}
ORACLE_EXT3: dict = {}


# ---------------------------------------------------------------------------
# bm25_topk — BM25 ranked retrieval (operators.textstats.bm25)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "table")
_BM25_K = 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed 3-term query.

    Plan shape (the 100 TB story):
      - one tokenize pass (checkpointed token arrays) feeds the corpus
        stats AND the per-(doc, term) tf; the query-term isin filter
        sits below doc_terms' tf aggregate, so only candidate postings
        reach the shuffle, not the whole posting list;
      - corpus stats (N, avgdl) are a 1-row aggregate and per-term df an
        n-term one, both broadcast into the scoring join;
      - top-k is orderBy+limit -> TakeOrderedAndProject (per-partition
        partial top-k, no global sort shuffle).
    """
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens("text").alias("toks")) \
            .localCheckpoint()  # tokenize once for tf, dl, and stats
    tf = doc_terms(docs).filter(F.col("term").isin(*_BM25_TERMS))
    return (bm25(tf, bm25_stats(docs))
            .orderBy(F.col("score_e6").desc(), "doc_id")
            .limit(_BM25_K))


ORACLE_BM25 = f"""
WITH terms AS ({doc_terms_sql()}),
stats AS ({BM25_STATS_SQL}),
seed AS (SELECT unnest({list(_BM25_TERMS)}) AS term),
{bm25_sql('', 'seed')}
SELECT doc_id, score_e6 FROM scored
ORDER BY score_e6 DESC, doc_id LIMIT {_BM25_K}
"""


# ---------------------------------------------------------------------------
# decontaminate_overlap — eval-set n-gram contamination
# ---------------------------------------------------------------------------

# Real pipelines use 8-13-gram overlap; the synthetic corpus draws from a
# ~40-word vocabulary, where an exact 8-gram match between independent
# docs is vanishingly rare — 4-grams + a 1-in-25 eval slice make the
# operator's output non-trivial at test SF (27 flagged docs at sf0.01)
# while keeping the identical plan shape.
_DECON_N = 4           # shingle width (words)
_DECON_EVAL_MOD = 25   # doc_id % 25 == 0 -> "held-out eval set"


def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing any {n}-gram with the eval set.

    The eval set here is the deterministic doc_id % _DECON_EVAL_MOD == 0
    slice (a real pipeline reads the benchmark corpus instead). Both sides shingle into
    md5(ngram) keys; a semi-ish join + count gives per-doc overlap. The
    eval side is DISTINCT shingles and broadcast — eval sets are tiny
    next to a 100 TB training corpus, so contamination never shuffles
    the corpus: one scan, map-side join, partial-agg count.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (_DECON_N - 1)),
        lambda i: F.md5(F.array_join(F.slice("toks", i, _DECON_N), " ")))
    shingled = (d.select("doc_id", toks.alias("toks"))
                .filter(F.size("toks") >= _DECON_N)
                .select("doc_id", F.explode(grams).alias("g")))
    ev = (shingled.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
          .select("g").distinct())
    corpus = shingled.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return (corpus.join(F.broadcast(ev), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n_overlap"))
            .select("doc_id", "n_overlap"))


ORACLE_DECON = rf"""
WITH tok AS (
  SELECT doc_id,
         {tokens_sql()} AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, len(toks) - {_DECON_N - 1}),
             i -> md5(array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS g
  FROM tok WHERE len(toks) >= {_DECON_N}
), ev AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0
), corpus AS (
  SELECT * FROM sh WHERE doc_id % {_DECON_EVAL_MOD} <> 0
)
SELECT doc_id, count(DISTINCT corpus.g) AS n_overlap
FROM corpus JOIN ev USING (g)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# text_repetition — Gopher-style repetition fractions
# ---------------------------------------------------------------------------


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher Table A1 family):
      top_bigram_frac_e6 — occurrences of the most frequent word bigram
                           over total bigrams
      dup_5gram_frac_e6  — fraction of 5-gram occurrences that are
                           duplicates (1 - distinct/total)

    The 5-gram fraction is a pure column expression (array_distinct —
    no shuffle at all); the bigram mode needs a per-(doc, gram) count →
    two partial-agg shuffles on narrow keys. Ratios of exact ints,
    quantized e6.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    grams5 = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 4),
        lambda i: F.array_join(F.slice("toks", i, 5), " "))
    base = (d.select("doc_id", toks.alias("toks"))
            .select(
                "doc_id", "toks",
                F.when(F.size("toks") >= 5,
                       F.round((1 - F.size(F.array_distinct(grams5))
                                / F.size(grams5)) * 1e6).cast("bigint"))
                .alias("dup_5gram_frac_e6"))
            # both output branches (per-doc fractions, bigram explode)
            # consume base: materialize so the corpus is tokenized once
            .localCheckpoint())
    # guard: F.sequence(1, size-1) is DESCENDING for size<2 ([1,0] /
    # [1,0,-1]) and element_at would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT;
    # DuckDB's generate_series(1, 0) is empty. Filter short docs out of the
    # bigram branch only — the left join keeps them with null top_bigram.
    bigrams = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.element_at("toks", i),
                                  F.element_at("toks", i + 1)))).alias("bg"))
    top = (bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
           .groupBy("doc_id")
           .agg(F.max("n").alias("top_n"), F.sum("n").alias("total_n"))
           .select("doc_id",
                   F.round(F.col("top_n") / F.col("total_n") * 1e6)
                   .cast("bigint").alias("top_bigram_frac_e6")))
    return (base.select("doc_id", "dup_5gram_frac_e6")
            .join(top, "doc_id", "left")
            .select("doc_id", "top_bigram_frac_e6", "dup_5gram_frac_e6"))


ORACLE_REPETITION = rf"""
WITH tok AS (
  SELECT doc_id,
         {tokens_sql()} AS toks
  FROM documents
), base AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           CAST(round((1 - len(list_distinct(list_transform(
                  generate_series(1, len(toks) - 4),
                  i -> array_to_string(toks[i:i+4], ' '))))
                / CAST(len(toks) - 4 AS DOUBLE)) * 1e6) AS BIGINT)
         END AS dup_5gram_frac_e6,
         toks
  FROM tok
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM base
), counts AS (
  SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg
), top AS (
  SELECT doc_id,
         CAST(round(max(n) / CAST(sum(n) AS DOUBLE) * 1e6) AS BIGINT)
           AS top_bigram_frac_e6
  FROM counts GROUP BY doc_id
)
SELECT b.doc_id, t.top_bigram_frac_e6, b.dup_5gram_frac_e6
FROM base b LEFT JOIN top t USING (doc_id)
"""


# ---------------------------------------------------------------------------
# range_banded_join — interval lookup as a banded equi-join
# ---------------------------------------------------------------------------

_BAND_W = 5000           # band width
_BAND_STEP = 50          # interval k: [k^2*50, (k+1)^2*50) — irregular widths
_BAND_K = 100


def q_range_banded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per irregular price interval, joined by BANDING — the
    scale pattern for value-in-range lookups (IP-geo tables, tax
    brackets, sensor calibration ranges).

    A naive `fact JOIN dim ON x >= lo AND x < hi` is a nested-loop scan
    of every interval per row — O(|F|·|D|), catastrophic when the dim is
    a million IP ranges. Banding converts it to an equi-join: both sides
    map to fixed-width bands, the dim EXPLODES each interval into every
    band it covers, the join runs on the band key, and the exact
    range predicate applies as a residual filter. Cost drops to
    O(|F| + |D|·spread); the join is a plain hash join that shuffles (or
    broadcasts) on a narrow int key, and AQE can split skewed bands.

    The interval dim here is generated (k² steps → widths grow, so
    intervals genuinely span multiple bands); a real pipeline reads it.
    """
    o = _t(spark, sf_dir, "orders")
    k = F.col("k")
    dim = (spark.range(_BAND_K).select(F.col("id").alias("k"))
           .select(
               k.alias("band_id"),
               (k * k * _BAND_STEP).cast("double").alias("lo"),
               ((k + 1) * (k + 1) * _BAND_STEP).cast("double").alias("hi")))
    # explode each interval into the fixed-width bands it covers
    dim_banded = dim.select(
        "band_id", "lo", "hi",
        F.explode(F.sequence(
            F.floor(F.col("lo") / _BAND_W),
            F.floor((F.col("hi") - 1) / _BAND_W))).alias("band"))
    fact = o.select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_d"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.floor(F.col("o_totalprice").cast("double") / _BAND_W)
        .alias("band"))
    joined = (fact.join(F.broadcast(dim_banded), "band")
              .filter((F.col("price") >= F.col("lo"))
                      & (F.col("price") < F.col("hi"))))
    # exact decimal sum (order-insensitive), double only at the output edge
    return (joined.groupBy("band_id")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("price_d").cast("double").alias("sum_price"))
            .select("band_id", "n_orders", "sum_price"))


ORACLE_RANGE_BANDED = f"""
WITH dim AS (
  SELECT k AS band_id,
         CAST(k * k * {_BAND_STEP} AS DOUBLE) AS lo,
         CAST((k + 1) * (k + 1) * {_BAND_STEP} AS DOUBLE) AS hi
  FROM generate_series(0, {_BAND_K - 1}) t(k)
)
SELECT d.band_id, count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders o JOIN dim d
  ON CAST(o.o_totalprice AS DOUBLE) >= d.lo
 AND CAST(o.o_totalprice AS DOUBLE) < d.hi
GROUP BY d.band_id
"""


# ---------------------------------------------------------------------------
# graph_triangles — degree-oriented triangle counting
# ---------------------------------------------------------------------------

_PI_SHIFT = 2 ** 33   # π-key = deg * 2^33 + id: total order by (deg, id)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup candidate graph (LSH pair edges) —
    the standard motif census for dup-cluster density.

    Scale-correct algorithm (degree orientation): orient every edge from
    the (degree, id)-smaller endpoint to the larger, so each triangle is
    counted exactly once at its π-smallest vertex and — the point — the
    wedge join fans out per OUT-degree, which orientation bounds at
    O(sqrt(m)) for any graph. The naive id-ordered wedge join explodes
    on hubs (a degree-d hub contributes d²/2 wedges); orienting by
    degree moves hub wedges onto low-degree endpoints. Joins: two hash
    joins on narrow int keys + one closing equi-join on (v, w).
    """
    from .queries import q_dedup_lsh_pairs
    e = q_dedup_lsh_pairs(spark, sf_dir)
    nodes = e.select(F.col("id_a").alias("id")) \
             .unionAll(e.select(F.col("id_b").alias("id")))
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    pk = (F.col("deg") * F.lit(_PI_SHIFT) + F.col("id")).alias("pk")
    k = deg.select("id", pk)
    ed = (e.join(k.select(F.col("id").alias("id_a"),
                          F.col("pk").alias("ka")), "id_a")
          .join(k.select(F.col("id").alias("id_b"),
                         F.col("pk").alias("kb")), "id_b"))
    a_first = F.col("ka") < F.col("kb")
    o = ed.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        F.when(a_first, F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).localCheckpoint()  # wedge join + closing join both consume it
    # Wedge + closing edge via the motif compiler (graph/queries.py):
    # two aliased hops fan out the wedges, the third hop's endpoints are
    # both bound so it compiles to the closing equi-join on (v, w).
    # Catalyst pushes the π-order filter below the closing join, so the
    # physical plan is the hand-written one (tests/test_graph.py).
    from ..graph.queries import PropertyGraph
    g = PropertyGraph().with_edges("o", o, src="src", dst="dst")
    tri = g.match("(u)-[e1:o]->(v), (u)-[e2:o]->(w), (v)-[:o]->(w)")
    return (tri.filter(F.col("e1_kdst") < F.col("e2_kdst"))
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def _oracle_triangles() -> str:
    from .queries import ORACLE_LSH
    return f"""
WITH e AS ({ORACLE_LSH}),
nodes AS (SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e),
deg AS (SELECT id, count(*) AS deg FROM nodes GROUP BY id),
k AS (SELECT id, deg * {_PI_SHIFT} + id AS pk FROM deg),
o AS (
  SELECT CASE WHEN ka.pk < kb.pk THEN e.id_a ELSE e.id_b END AS src,
         CASE WHEN ka.pk < kb.pk THEN e.id_b ELSE e.id_a END AS dst,
         CASE WHEN ka.pk < kb.pk THEN kb.pk ELSE ka.pk END AS kdst
  FROM e JOIN k ka ON ka.id = e.id_a JOIN k kb ON kb.id = e.id_b
),
w AS (
  SELECT o1.dst AS v, o2.dst AS w
  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.kdst < o2.kdst
)
SELECT count(*) AS n_triangles
FROM w JOIN o ON o.src = w.v AND o.dst = w.w
"""


# ---------------------------------------------------------------------------
# weighted_sample — deterministic weighted sampling (A-ES)
# ---------------------------------------------------------------------------

_WS_K = 50


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of 50 documents, weight = token
    count — the quality/length-weighted subsampling step of a training
    mix. Efraimidis–Spirakis A-ES: key = u^(1/w) with u uniform in
    (0,1]; the top-k keys ARE a weighted sample without replacement.
    u comes from md5(doc_id) (first 13 hex digits → 52 uniform bits), so
    the sample is partitioning-invariant and reproducible in any engine
    — no RNG state, no driver coordination; top-k is
    TakeOrderedAndProject. Comparing ln(u)/w (monotone in u^(1/w))
    avoids pow() library differences across engines."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                 16, 10).cast("double") + F.lit(1.0))
         / F.lit(float(16 ** 13)))
    base = d.select("doc_id", n_tok.alias("n_tokens"),
                    u.alias("u")).filter(F.col("n_tokens") > 0)
    key = F.log(F.col("u")) / F.col("n_tokens")
    return (base.select("doc_id", "n_tokens",
                        F.round(key * 1e9).cast("bigint").alias("key_e9"))
            .orderBy(F.col("key_e9").desc(), "doc_id")
            .limit(_WS_K))


ORACLE_WEIGHTED_SAMPLE = rf"""
WITH base AS (
  SELECT doc_id,
         len({tokens_sql()}) AS n_tokens,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
               AS UBIGINT) + 1.0) / {float(16 ** 13)} AS u
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(round(ln(u) / n_tokens * 1e9) AS BIGINT) AS key_e9
FROM base WHERE n_tokens > 0
ORDER BY key_e9 DESC, doc_id
LIMIT {_WS_K}
"""


# ---------------------------------------------------------------------------
# lm_quality_score — corpus char-bigram LM as a perplexity proxy
# ---------------------------------------------------------------------------


def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean char-bigram log-probability under a model
    estimated from the corpus itself — the CCNet-style "LM perplexity"
    quality signal with the LM replaced by a self-trained bigram table
    (no external model, fully oracle-checkable).

    Plan: one pass explodes (prev, cur) char bigrams, immediately
    reduced to integer counts per (doc, prev, cur) — the only data that
    leaves the map side. The probability table P(cur|prev) =
    c(prev,cur)/c(prev,*) aggregates the SAME exploded lineage straight
    to (prev, cur) — partial aggs collapse each task to ≤ alphabet²
    rows, so its shuffle is constant-size regardless of corpus — and is
    BROADCAST into the scoring join. The map-only scan+explode subtree
    is deliberately computed twice rather than materialized: r8's 100x
    probe measured the former localCheckpoint of the per-doc bigram
    frame (docs × ≤alphabet² rows, MEMORY_AND_DISK in the block
    manager) at ratio 127x for 100x data — pure GC pressure; recompute
    is linear and spill-free (329s → re-measured after the fix in
    BENCH_HISTORY's 100x table). The per-doc mean folds
    n(p,c)·logp(p,c) over DISTINCT bigram types in (prev, cur) order
    (sorted fold: a hash-agg double sum is order-nondeterministic across
    engines; folding weighted type contributions also shrinks the fold
    from one element per character to one per distinct bigram).
    Degenerate docs (< 2 chars) drop out, matching the oracle.
    """
    d = _t(spark, sf_dir, "documents")
    # Char array STAGED to a named column (the CollapseProject lesson),
    # bigrams built by an O(1) element_at transform BEFORE the explode.
    # The previous shape exploded one row per position and computed
    # t.substr(pos, 1) per row — UTF8String.substring walks codepoints
    # from the string START, so each doc cost O(len^2), and the Generate
    # carried the full text into every exploded row (O(len^2) bytes
    # through the projection too). Measured at the r13 100x probe:
    # 107.4s -> see BENCH_HISTORY. Exploded rows now carry a 2-char
    # struct, never the text.
    cs = F.split(F.lower("text"), "")
    pairs = (d.select("doc_id", cs.alias("__cs"))
             .filter(F.size("__cs") >= 2)
             .select("doc_id", F.explode(F.transform(
                 F.sequence(F.lit(1), F.size("__cs") - 1),
                 lambda i: F.struct(
                     F.element_at("__cs", i).alias("prev"),
                     F.element_at("__cs", i + 1).alias("cur"))))
                 .alias("pc"))
             .select("doc_id", "pc.prev", "pc.cur"))
    big = (pairs.groupBy("doc_id", "prev", "cur")
           .agg(F.count(F.lit(1)).alias("n_pc")))
    probs = (pairs.groupBy("prev", "cur")
             .agg(F.count(F.lit(1)).alias("c_pc")))
    prev_tot = probs.groupBy("prev").agg(F.sum("c_pc").alias("c_p"))
    ptable = (probs.join(F.broadcast(prev_tot), "prev")
              .select("prev", "cur",
                      F.log(F.col("c_pc") / F.col("c_p")).alias("logp")))
    scored = big.join(F.broadcast(ptable), ["prev", "cur"])
    return (scored.groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct(
                "prev", "cur", (F.col("n_pc") * F.col("logp")).alias("w"))))
                 .alias("ps"),
                 F.sum("n_pc").alias("n"))
            .select("doc_id",
                    F.round(F.aggregate(
                        F.col("ps"), F.lit(0.0),
                        lambda acc, s: acc + s["w"])
                        / F.col("n") * 1e6).cast("bigint")
                    .alias("mean_logp_e6")))


ORACLE_LM_QUALITY = """
WITH chars AS (
  SELECT doc_id,
         substr(lower(text), pos, 1) AS prev,
         substr(lower(text), pos + 1, 1) AS cur
  FROM documents, LATERAL unnest(generate_series(1, len(lower(text)) - 1))
       AS u(pos)
  WHERE len(text) >= 2
), big AS (
  SELECT doc_id, prev, cur, count(*) AS n_pc
  FROM chars GROUP BY doc_id, prev, cur
), probs AS (
  SELECT prev, cur, sum(n_pc) AS c_pc FROM big GROUP BY prev, cur
), prev_tot AS (
  SELECT prev, sum(c_pc) AS c_p FROM probs GROUP BY prev
), ptable AS (
  SELECT probs.prev, probs.cur, ln(c_pc / CAST(c_p AS DOUBLE)) AS logp
  FROM probs JOIN prev_tot USING (prev)
)
SELECT b.doc_id,
       CAST(round(list_reduce(
           list_prepend(0.0, list(b.n_pc * p.logp ORDER BY b.prev, b.cur)),
           (acc, v) -> acc + v) / sum(b.n_pc) * 1e6) AS BIGINT)
         AS mean_logp_e6
FROM big b JOIN ptable p ON b.prev = p.prev AND b.cur = p.cur
GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# minhash_jaccard_estimate — signature-space similarity estimation
# ---------------------------------------------------------------------------


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ESTIMATES from MinHash signatures for the LSH candidate
    pairs: est = |{i : mh_i(a) = mh_i(b)}| / k. This is the cheap
    verify stage — comparing k hashes per pair instead of re-tokenizing
    two documents — and the reason MinHash pipelines scale: the exact
    Jaccard join (dedup_jaccard) touches the token inverted index, this
    touches 2k strings per candidate. Integer-exact (match count over
    k), so cross-engine determinism is free.
    """
    from ..operators.dedup import minhash_lsh_pairs, minhash_signatures
    d = _t(spark, sf_dir, "documents")
    # one signature computation feeds banding AND both join sides
    sig = minhash_signatures(d, "text", "doc_id", k=4).localCheckpoint()
    pairs = minhash_lsh_pairs(d, "text", "doc_id", k=4, bands=2,
                              max_bucket_size=64, sig=sig)
    sa = sig.select(F.col("id").alias("id_a"),
                    *[F.col(f"mh{i}").alias(f"a{i}") for i in range(4)])
    sb = sig.select(F.col("id").alias("id_b"),
                    *[F.col(f"mh{i}").alias(f"b{i}") for i in range(4)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(4))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    (matches * 250_000).cast("bigint")
                    .alias("jaccard_est_e6")))


def _oracle_minhash_estimate() -> str:
    from .queries import ORACLE_LSH, _oracle_minhash_cte
    match_sum = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(4))
    return f"""
WITH pairs AS ({ORACLE_LSH}),
sig2 AS ({_oracle_minhash_cte(4)} SELECT * FROM sig)
SELECT p.id_a, p.id_b,
       CAST(({match_sum}) * 250000 AS BIGINT) AS jaccard_est_e6
FROM pairs p
JOIN sig2 sa ON sa.id = p.id_a
JOIN sig2 sb ON sb.id = p.id_b
"""


# ---------------------------------------------------------------------------
# rerank_topk — retrieve-then-rerank (the RAG second stage)
# ---------------------------------------------------------------------------


def q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-rank the BM25 candidate set by a second scorer — the standard
    two-stage retrieval shape (cheap recall stage -> expensive precision
    stage over k candidates, not the corpus).

    The default scorer is deterministic lexical Jaccard between the
    query terms and the candidate's distinct tokens, so the whole stage
    is oracle-checkable; a production cross-encoder drops into the same
    position as a batched pandas-UDF scorer (operators/nlp.py pattern) —
    it only ever sees k rows per query, which is why rerank cost does
    not scale with the corpus.

    Plan: the k-row candidate set BROADCASTS into the join against the
    corpus (scoring re-reads only matching docs via the join filter);
    ordering ties break on doc_id.
    """
    cand = q_bm25_topk(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    qarr = F.array(*[F.lit(t) for t in _BM25_TERMS])
    scored = (d.join(F.broadcast(cand), "doc_id")
              .select(
                  "doc_id", "score_e6",
                  F.round(
                      F.size(F.array_intersect(toks, qarr))
                      / F.size(F.array_union(toks, qarr)) * 1e6)
                  .cast("bigint").alias("jaccard_e6")))
    return (scored
            .orderBy(F.col("jaccard_e6").desc(),
                     F.col("score_e6").desc(), "doc_id")
            .limit(_BM25_K)
            .select("doc_id", "jaccard_e6", "score_e6"))


def _oracle_rerank() -> str:
    return rf"""
WITH bm AS ({ORACLE_BM25}),
tok AS (
  SELECT doc_id,
         list_distinct({tokens_sql()}) AS toks
  FROM documents
), q AS (SELECT {list(_BM25_TERMS)!r}::VARCHAR[] AS qt)
SELECT bm.doc_id,
       CAST(round(
           len(list_intersect(tok.toks, q.qt))
           / CAST(len(list_distinct(list_concat(tok.toks, q.qt)))
                  AS DOUBLE) * 1e6) AS BIGINT) AS jaccard_e6,
       bm.score_e6
FROM bm JOIN tok USING (doc_id) CROSS JOIN q
ORDER BY jaccard_e6 DESC, score_e6 DESC, doc_id
LIMIT {_BM25_K}
"""


# ---------------------------------------------------------------------------
# media_features — the Arrow/mapInPandas path, oracle-verified
# ---------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads through the REAL
    mapInPandas pipeline (operators/multimodal.extract_features) with the
    deterministic codec-free decoder — the one catalog query that proves
    the Python/Arrow batch path end-to-end against a SQL oracle (every
    other query is JVM-only by design; real image/audio decoding swaps
    in a PIL/libav decoder at the same injection point).
    """
    from ..operators.multimodal import (
        deterministic_fake_decoder,
        extract_features,
    )
    d = _t(spark, sf_dir, "documents")
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "utf-8").alias("payload"))
    return extract_features(media, decoder=deterministic_fake_decoder)


ORACLE_MEDIA_FEATURES = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       (octet_length(encode(text)) % 1021) / 4.0 AS mean_intensity
FROM documents
"""


# ---------------------------------------------------------------------------
# range_frame_window — per-event trailing interval aggregation
# ---------------------------------------------------------------------------

_RF_WINDOW_NS = 3_600 * 1_000_000_000   # trailing 1 hour in nanos


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour stats via a RANGE frame — the window shape
    tumbling/sliding buckets can't express (every EVENT anchors its own
    window, no bucket quantization). RANGE BETWEEN runs on the exact
    int64 nanos ordering, identical in any engine; one shuffle on
    user_id, sort within partition, single pass.
    """
    from pyspark.sql import Window
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts_ns")
         .rangeBetween(-_RF_WINDOW_NS, 0))
    return (e.select("user_id", "event_id", "ts_ns")
            .withColumn("n_trailing_1h", F.count(F.lit(1)).over(w))
            .select("user_id", "event_id", "n_trailing_1h"))


ORACLE_RANGE_FRAME = f"""
SELECT user_id, event_id,
       count(*) OVER (
         PARTITION BY user_id ORDER BY epoch_ns(ts)
         RANGE BETWEEN {_RF_WINDOW_NS} PRECEDING AND CURRENT ROW)
         AS n_trailing_1h
FROM events
"""


# ---------------------------------------------------------------------------
# pareto_frontier — 2-D skyline via sort + strict-suffix max
# ---------------------------------------------------------------------------

_PF_BAND = 8192  # cents of x-domain per suffix-max band


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of customers over (account balance,
    order count): points not dominated in both dimensions.

    The semantic definition is a quadratic NOT EXISTS self-join — that is
    exactly what the ORACLE runs. The Spark plan is the O(n log n)
    2-D skyline instead: collapse to max-y per x, then compute, for
    each point, the best y any strictly-higher-x point achieves; a
    point survives iff its y strictly beats that. Balance is keyed in
    exact integer cents — dominance ties must not ride on float
    equality.

    The strict-suffix max is the watermark_audit two-level scan
    decomposition, never a global window: x-value bands of 8192 cents
    each run their internal x-descending exclusive running max in a
    bounded per-band window; the per-band maxima (a tiny table,
    |x-domain|/8192 rows) take one exclusive suffix max; the broadcast
    join back makes best_higher_x = greatest(in-band suffix,
    higher-bands' max) — linear and fully parallel for any x-domain.
    The band key floor-divides via pmod because balances go negative:
    truncating div would fold (-b, +b) into one band and break the
    band order.
    """
    from pyspark.sql import Window
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") * 100).cast("bigint").alias("x"))
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey") \
        .agg(F.count(F.lit(1)).alias("y"))
    pts0 = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
            .select("x", F.coalesce("y", F.lit(0)).alias("y")))
    pts = pts0.groupBy("x").agg(F.max("y").alias("y"))
    # x is DISTINCT after the collapse, so "strictly higher x" == "all
    # previous rows in x-descending order" — an O(n) running max,
    # decomposed into bands so no partition holds the whole x-domain.
    banded = pts.select(
        "x", "y",
        F.expr(f"(x - pmod(x, {_PF_BAND})) div {_PF_BAND}").alias("b"))
    win = (Window.partitionBy("b").orderBy(F.col("x").desc())
           .rowsBetween(Window.unboundedPreceding, -1))
    local = banded.withColumn("best_in_band", F.max("y").over(win))
    bmax = banded.groupBy("b").agg(F.max("y").alias("bmax"))
    wsuf = (Window.orderBy(F.col("b").desc())
            .rowsBetween(Window.unboundedPreceding, -1))
    suffix = bmax.select(
        "b", F.max("bmax").over(wsuf).alias("best_higher_band"))
    best = F.greatest(F.col("best_in_band"), F.col("best_higher_band"))
    return (local.join(F.broadcast(suffix), "b")
            .filter(best.isNull() | (F.col("y") > best))
            .select(F.col("x").alias("acctbal_cents"), F.col("y")
                    .alias("n_orders")))


ORACLE_PARETO = """
WITH pts0 AS (
  SELECT CAST(c_acctbal * 100 AS BIGINT) AS x,
         coalesce(o.y, 0) AS y
  FROM customer
  LEFT JOIN (SELECT o_custkey, count(*) AS y FROM orders
             GROUP BY o_custkey) o ON o_custkey = c_custkey
), pts AS (SELECT x, max(y) AS y FROM pts0 GROUP BY x)
SELECT p.x AS acctbal_cents, p.y AS n_orders
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
"""


# ---------------------------------------------------------------------------
# listagg_report — ordered string aggregation
# ---------------------------------------------------------------------------


def q_listagg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation sorted distinct market segments as one delimited string
    (LISTAGG / string_agg). Determinism rule for ANY engine: an unordered
    string_agg is nondeterministic under parallel aggregation, so the
    elements are collected as a set and sorted before joining —
    collect_set + sort_array + array_join, all codegen; the agg shuffles
    once on the (tiny) nation key with map-side partials."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    return (c.join(F.broadcast(n),
                   c["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), "|")
                .alias("segments")))


ORACLE_LISTAGG = """
SELECT n_name,
       string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
         AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


QUERIES_EXT3.update({
    "listagg_report": q_listagg_report,
    "rerank_topk": q_rerank_topk,
    "graph_triangles": q_graph_triangles,
    "weighted_sample": q_weighted_sample,
    "lm_quality_score": q_lm_quality_score,
    "minhash_estimate": q_minhash_estimate,
    "media_features": q_media_features,
    "range_frame_window": q_range_frame_window,
    "pareto_frontier": q_pareto_frontier,
    "bm25_topk": q_bm25_topk,
    "decontaminate_overlap": q_decontaminate_overlap,
    "text_repetition": q_text_repetition,
    "range_banded_join": q_range_banded_join,
})

ORACLE_EXT3.update({
    "listagg_report": ORACLE_LISTAGG,
    "rerank_topk": _oracle_rerank(),
    "graph_triangles": _oracle_triangles(),
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "lm_quality_score": ORACLE_LM_QUALITY,
    "minhash_estimate": _oracle_minhash_estimate(),
    "media_features": ORACLE_MEDIA_FEATURES,
    "range_frame_window": ORACLE_RANGE_FRAME,
    "pareto_frontier": ORACLE_PARETO,
    "bm25_topk": ORACLE_BM25,
    "decontaminate_overlap": ORACLE_DECON,
    "text_repetition": ORACLE_REPETITION,
    "range_banded_join": ORACLE_RANGE_BANDED,
})
