"""Catalog extension 19 (round 8, late wave 8). Corpus exploration:

  ctfidf_topterms   class-based TF-IDF (the BERTopic c-TF-IDF shape):
                    for each SOURCE, the terms most distinctive of it —
                    term frequency within the source weighted by a
                    cross-source rarity ladder. The corpus-exploration
                    twin of domain_affinity_score (that scores DOCS
                    against one target; this labels every SOURCE with
                    its vocabulary signature).

Reference parity: none in the reference; the brief's corpus-mix /
exploration family (tfidf_topk ranks DOCS for a query; this profiles
CLASSES).

Cross-engine determinism (SURVEY 4.4): rarity is the linear ladder
(n_sources + 1 - source_df) — source_df is bounded by the source dim,
so no log ladder is even needed; scores are exact integer products;
top-k per source breaks ties (score desc, term asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import doc_terms, doc_terms_sql, tokens
from .queries import _t

QUERIES_EXT19: dict = {}
ORACLE_EXT19: dict = {}

_CT_TOPK = 5


def q_ctfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: score(term, source) =
    tf(term in source) * (n_sources + 1 - source_df(term)), where
    source_df counts how many sources use the term at all — a term
    every source uses scores weight 1, a single-source term scores
    weight n_sources. Top {_CT_TOPK} terms per source with (score
    desc, term) tie-break. This is c-TF-IDF on an exact integer
    lattice: the report a corpus-mix reviewer reads to see what each
    crawl actually contains.

    Scale shape: postings reduce map-side to (source, term) counts
    (|sources| x |vocab| rows — both bounded vocabularies); source_df
    re-aggregates that table (never re-scans the corpus) and joins
    back keyed on term; n_sources rides a 1-row broadcast cross join
    (the bm25 stats shape, BNLJ-allowlisted); the top-k rank window is
    partitioned by source over vocab-bounded rows.
    """
    d = _t(spark, sf_dir, "documents")
    # each source is one class document: doc_terms keyed by source
    st = (doc_terms(d.select(F.col("source").alias("doc_id"),
                             tokens("text").alias("toks")))
          .select(F.col("doc_id").alias("source"), "term", "tf"))
    sdf = st.groupBy("term").agg(
        F.count(F.lit(1)).alias("source_df"))
    ns = st.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_sources"))
    scored = (st.join(sdf, "term")
              .crossJoin(F.broadcast(ns))
              .withColumn("score",
                          F.expr("tf * (n_sources + 1 - source_df)")))
    w = Window.partitionBy("source").orderBy(F.desc("score"), "term")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _CT_TOPK)
            .select("source", "term", "tf", "source_df", "score",
                    F.col("rk").alias("rank"))
            .orderBy("source", "rank"))


ORACLE_CTFIDF = rf"""
WITH st AS (
  SELECT doc_id AS source, term, CAST(tf AS BIGINT) AS tf
  FROM ({doc_terms_sql("(SELECT source AS doc_id, text FROM documents)")})
), sdf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS source_df FROM st GROUP BY 1
), ns AS (
  SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM st
), scored AS (
  SELECT source, st.term, tf, source_df,
         tf * (n_sources + 1 - source_df) AS score
  FROM st JOIN sdf ON st.term = sdf.term, ns
)
SELECT source, term, tf, source_df, score, CAST(rk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, term) AS rk
      FROM scored)
WHERE rk <= {_CT_TOPK}
ORDER BY source, rank
"""


QUERIES_EXT19.update({"ctfidf_topterms": q_ctfidf_topterms})
ORACLE_EXT19.update({"ctfidf_topterms": ORACLE_CTFIDF})
