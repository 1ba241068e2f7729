"""Catalog extension 36 (round 9, second session, wave 11). The
end-to-end curation funnel:

  curation_funnel_report   the full training-data intake pipeline as
                           ONE query — quality gate -> exact dedup ->
                           decontamination — reporting docs and
                           tokens surviving each stage. Every stage
                           reuses a rule the catalog already proves
                           in isolation (gopher_quality_flags,
                           dedup_exact, decontaminate_overlap); this
                           entry pins their COMPOSITION, the thing a
                           pipeline owner actually runs nightly.

Reference parity: none in the reference; the brief's
training-data-pipeline composition.

Cross-engine determinism (SURVEY 4.4): all-integer counts; exact
dedup keeps the SMALLEST doc_id per md5(text); decontamination drops
docs sharing >= the threshold fraction of 3-shingles with the eval
slice (exact set arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import tokens, tokens_sql
from .queries import _t

QUERIES_EXT36: dict = {}
ORACLE_EXT36: dict = {}

_CF_MIN_WORDS = 30
_CF_MAX_WORDS = 500
_CF_DUP_MAX_E6 = 900000
_CF_EVAL_DOCS = 20        # doc_id < 20 = the "benchmark" slice
_CF_SHINGLE = 3
_CF_OVERLAP_E6 = 500000   # drop when >= 50% of shingles hit the eval set


def q_curation_funnel_report(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Docs and tokens surviving each curation stage:

      stage 0 raw          every document
      stage 1 quality      word count in [{_CF_MIN_WORDS},
                           {_CF_MAX_WORDS}] AND duplicate-word
                           fraction <= {_CF_DUP_MAX_E6} ppm (the
                           gopher_quality_flags gate, two hottest
                           rules)
      stage 2 exact_dedup  keep the smallest doc_id per md5(text)
                           (the dedup_exact keep-first rule)
      stage 3 decontam     drop docs (outside the eval slice itself)
                           whose {_CF_SHINGLE}-shingle set overlaps
                           the eval slice's shingle set by >=
                           {_CF_OVERLAP_E6} ppm (the
                           decontaminate_overlap rule)

    Output one row per stage with surviving docs and token totals —
    the nightly intake funnel, and the single number ("docs we paid
    for vs docs we train on") the pipeline owner reports up.

    Scale shape: ONE tokenize pass feeds every stage (doc-level
    metrics are pure column expressions); the dedup winner is a
    min(doc_id)-per-hash aggregate joined back semi; the eval
    shingle set is tiny by construction and BROADCASTS into the
    overlap probe (the decontaminate_overlap shape); stage counts
    stack via one union of four 1-row aggregates. Checkpoint
    payloads carry only what downstream stages consume (the r9
    19.6x 100x-probe tail was materialized text+toks riding through
    BOTH checkpoints): the base pass folds md5(text) into a column
    and drops the text; shingles are computed AT the s2 checkpoint —
    only for quality+dedup survivors — and toks dropped there."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(toks).alias("nw"),
        F.size(F.array_distinct(toks)).alias("nd"),
        toks.alias("toks")).localCheckpoint()

    s1 = base.filter(
        (F.col("nw") >= _CF_MIN_WORDS) & (F.col("nw") <= _CF_MAX_WORDS)
        & (F.expr("(1000000 * CAST(nw - nd AS DECIMAL(38,0))) div nw")
           <= _CF_DUP_MAX_E6))
    winners = s1.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    sh = F.when(F.col("nw") < _CF_SHINGLE,
                F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.col("nw") - _CF_SHINGLE + 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("toks"), i, F.lit(_CF_SHINGLE)))))
    s2 = (s1.join(winners.select("doc_id"), "doc_id", "semi")
          .select("doc_id", "nw", F.array_distinct(sh).alias("shs"))
          .localCheckpoint())

    eval_sh = (s2.filter(F.col("doc_id") < _CF_EVAL_DOCS)
               .select(F.explode("shs").alias("sh")).distinct()
               .groupBy().agg(F.collect_list("sh").alias("eset")))
    probed = (s2.join(F.broadcast(eval_sh))
              .select("doc_id",
                      F.size("shs").alias("n_sh"),
                      F.size(F.array_intersect("shs", "eset"))
                      .alias("hit")))
    dropped = probed.filter(
        (F.col("doc_id") >= _CF_EVAL_DOCS) & (F.col("n_sh") > 0)
        & (F.expr("(1000000 * CAST(hit AS DECIMAL(38,0))) div n_sh")
           >= _CF_OVERLAP_E6)).select("doc_id")
    s3 = s2.join(dropped, "doc_id", "anti")

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("nw"), F.lit(0)).cast("bigint")
            .alias("n_tokens"))

    return (stage(base, 0, "raw")
            .unionByName(stage(s1, 1, "quality"))
            .unionByName(stage(s2, 2, "exact_dedup"))
            .unionByName(stage(s3, 3, "decontam"))
            .orderBy("stage"))


ORACLE_CURATION_FUNNEL = rf"""
WITH base AS (
  SELECT doc_id, text,
         {tokens_sql()} AS toks,
         len({tokens_sql()}) AS nw,
         len(list_distinct({tokens_sql()})) AS nd
  FROM documents
), s1 AS (
  SELECT * FROM base
  WHERE nw >= {_CF_MIN_WORDS} AND nw <= {_CF_MAX_WORDS}
    AND (1000000 * CAST(nw - nd AS HUGEINT)) // nw
        <= {_CF_DUP_MAX_E6}
), winners AS (
  SELECT md5(text) AS h, min(doc_id) AS doc_id FROM s1 GROUP BY 1
), s2 AS (
  SELECT s1.* FROM s1 SEMI JOIN winners w ON s1.doc_id = w.doc_id
), doc_sh AS (
  SELECT doc_id, nw,
         list_distinct(CASE WHEN nw < {_CF_SHINGLE} THEN []
           ELSE [array_to_string(toks[i : i + {_CF_SHINGLE} - 1], ' ')
                 for i in range(1, nw - {_CF_SHINGLE} + 2)] END)
           AS shs
  FROM s2
), eset AS (
  SELECT list(DISTINCT sh) AS eset
  FROM (SELECT unnest(shs) AS sh FROM doc_sh
        WHERE doc_id < {_CF_EVAL_DOCS})
), dropped AS (
  SELECT d.doc_id
  FROM doc_sh d, eset
  WHERE d.doc_id >= {_CF_EVAL_DOCS} AND len(d.shs) > 0
    AND (1000000 * CAST(len(list_intersect(d.shs, eset.eset))
                        AS HUGEINT)) // len(d.shs)
        >= {_CF_OVERLAP_E6}
), s3 AS (
  SELECT s2.* FROM s2 ANTI JOIN dropped x ON s2.doc_id = x.doc_id
)
SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(nw), 0) AS BIGINT) AS n_tokens FROM base
UNION ALL
SELECT 1, 'quality', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(nw), 0) AS BIGINT) FROM s1
UNION ALL
SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(nw), 0) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'decontam', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(nw), 0) AS BIGINT) FROM s3
ORDER BY stage
"""


QUERIES_EXT36.update({
    "curation_funnel_report": q_curation_funnel_report,
})
ORACLE_EXT36.update({
    "curation_funnel_report": ORACLE_CURATION_FUNNEL,
})
