"""Catalog extension 29 (round 9, second session, wave 4). Streaming
twins + distinct-count estimation:

  stream_topk_twin       batch twin of streaming/topk.py's exact
                         heavy-hitter monitor FINAL emission — gives
                         the stateful operator's arithmetic an
                         official DuckDB row (the stream_drift_twin
                         pattern)
  chao_distinct_estimate Chao1 species-richness estimator per source:
                         "how many DISTINCT shingles would we see
                         with infinite data" from the
                         frequency-of-frequencies — the coverage
                         planner's answer to "is the corpus mined
                         out", complementing hll_distinct (which
                         counts what IS there)

Reference parity: none in the reference; streaming extension family
(SURVEY §2.9) + the sketch/estimation family of ext4/ext6.

Cross-engine determinism (SURVEY 4.4): integer lattices throughout;
the top-k tie-break is (count DESC, bin ASC) — the catalog rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import tokens, tokens_sql
from .queries import _t

QUERIES_EXT29: dict = {}
ORACLE_EXT29: dict = {}


# ---------------------------------------------------------------------------
# stream_topk_twin — official row for the streaming top-K monitor
# ---------------------------------------------------------------------------


def q_stream_topk_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/topk.py's FINAL emission on the events
    table: per event_type, the exact top-3 value bins by (count DESC,
    bin ASC) with the running total. The streaming operator itself is
    pytest-pinned (batch parity + micro-batch-split invariance,
    tests/test_streaming_topk.py); this entry gives the SAME
    arithmetic an official DuckDB row.

    Scale shape: ONE combinable (type, bin) count; the rank window
    partitions by type over the domain-bounded bin table
    (|cent-domain| / 4096 rows per type, never corpus rows).
    """
    from ..streaming.topk import topk_monitor_batch
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_e2"))
    return (topk_monitor_batch(e)
            .select("event_type",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.col("bin").cast("bigint").alias("bin"),
                    F.col("cnt").cast("bigint").alias("cnt"),
                    F.col("n_total").cast("bigint").alias("n_total"))
            .orderBy("event_type", "rank"))


ORACLE_STREAM_TOPK = """
WITH e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) // 4096 AS bin
  FROM events
), h AS (
  SELECT event_type, bin, count(*) AS cnt FROM e GROUP BY 1, 2
), n AS (
  SELECT event_type, sum(cnt) AS n_total FROM h GROUP BY 1
), r AS (
  SELECT event_type, bin, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, bin ASC) AS rank
  FROM h
)
SELECT r.event_type,
       CAST(r.rank AS BIGINT) AS rank,
       CAST(r.bin AS BIGINT) AS bin,
       CAST(r.cnt AS BIGINT) AS cnt,
       CAST(n.n_total AS BIGINT) AS n_total
FROM r JOIN n ON r.event_type = n.event_type
WHERE r.rank <= 3
ORDER BY r.event_type, r.rank
"""


# ---------------------------------------------------------------------------
# chao_distinct_estimate — Chao1 richness from frequency-of-frequencies
# ---------------------------------------------------------------------------

_CH_SHINGLE = 3


def q_chao_distinct_estimate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Chao1 estimator per source over {_CH_SHINGLE}-token shingles:
    chao1 = d + f1*(f1-1) / (2*(f2+1))  (bias-corrected form, defined
    even when f2 = 0), where d = observed distinct shingles, f1/f2 =
    shingles seen exactly once/twice. The "how much is left to mine"
    planner: coverage = n / (n + f1-ish) tells you whether more data
    from this source buys new content or re-reads — the question
    dedup rates alone can't answer. Also emits coverage_e6 (Good-
    Turing: 1 - f1/n on the e6 lattice).

    Scale shape: shingles explode in-row (the dedup shingling shape);
    TWO combinable aggregates — (source, shingle) counts, then the
    frequency-of-frequencies fold per source; the estimator is
    all-integer on exact counts ((a - a %% b) / b for the f1^2 term
    rides DECIMAL, the kruskal overflow rule).
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    # token array STAGED to a named column before the shingle HOF
    # references it per position (the novelty_curve_report
    # CollapseProject lesson: unstaged, the regex split re-evaluates
    # once per shingle position; measured 1.03 -> 0.6s at sf0.1)
    sh = F.when(F.size("tk") < _CH_SHINGLE,
                F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size("tk") - _CH_SHINGLE + 1),
            lambda i: F.concat_ws(
                " ", F.slice("tk", i, F.lit(_CH_SHINGLE)))))
    cnts = (d.select("source", toks.alias("tk"))
            .select("source", F.explode(sh).alias("sh"))
            .groupBy("source", "sh")
            .agg(F.count(F.lit(1)).alias("c")))
    fof = cnts.groupBy("source").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"))
    return (fof.select(
        "source",
        F.col("n").cast("bigint").alias("n_shingles"),
        F.col("d").cast("bigint").alias("d_observed"),
        F.col("f1").cast("bigint").alias("f1"),
        F.col("f2").cast("bigint").alias("f2"),
        F.expr("d + CAST((CAST(f1 AS DECIMAL(38,0)) * (f1 - 1)"
               " - (CAST(f1 AS DECIMAL(38,0)) * (f1 - 1))"
               " % (2 * (f2 + 1))) / (2 * (f2 + 1))"
               " AS DECIMAL(38,0))").cast("bigint").alias("chao1"),
        F.expr("1000000 - (1000000 * CAST(f1 AS DECIMAL(38,0))) div n")
        .cast("bigint").alias("coverage_e6"))
        .orderBy("source"))


ORACLE_CHAO = rf"""
WITH t AS (
  SELECT source,
         {tokens_sql()} AS toks
  FROM documents
), sh AS (
  SELECT source,
         array_to_string(toks[i : i + {_CH_SHINGLE} - 1], ' ') AS sh
  FROM t, unnest(range(1, len(toks) - {_CH_SHINGLE} + 2)) AS u(i)
  WHERE len(toks) >= {_CH_SHINGLE}
), cnts AS (
  SELECT source, sh, count(*) AS c FROM sh GROUP BY 1, 2
), fof AS (
  SELECT source, count(*) AS d, sum(c) AS n,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM cnts GROUP BY 1
)
SELECT source,
       CAST(n AS BIGINT) AS n_shingles,
       CAST(d AS BIGINT) AS d_observed,
       CAST(f1 AS BIGINT) AS f1,
       CAST(f2 AS BIGINT) AS f2,
       CAST(d + (CAST(f1 AS HUGEINT) * (f1 - 1)) // (2 * (f2 + 1))
            AS BIGINT) AS chao1,
       CAST(1000000 - (1000000 * CAST(f1 AS HUGEINT)) // n AS BIGINT)
         AS coverage_e6
FROM fof
ORDER BY source
"""


QUERIES_EXT29.update({
    "stream_topk_twin": q_stream_topk_twin,
    "chao_distinct_estimate": q_chao_distinct_estimate,
})
ORACLE_EXT29.update({
    "stream_topk_twin": ORACLE_STREAM_TOPK,
    "chao_distinct_estimate": ORACLE_CHAO,
})
