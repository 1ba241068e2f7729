"""Catalog extension 14 (round 8, late wave 3). Time-series
symbolization / smoothing and LM-vocabulary diagnostics:

  rolling_median_7d    7-day rolling exact lower-median of daily mean
                       values per event type — the robust smoother
                       next to ewma_report's exponential one
  unigram_surprisal    per-document rarity score from a unigram
                       log2-frequency ladder — the "perplexity proxy"
                       quality signal that flags rare-token-stuffed
                       docs without a float log anywhere
  feature_hashing_report  hashing-trick collision audit: vocab ->
                       256 md5 buckets, load histogram + token mass
                       per load band — what a feature-hashed model
                       loses before anyone trains it
  sax_symbolic         SAX symbolization of each type's daily-mean
                       series (a/b/c/d alphabet at z breakpoints
                       -0.67/0/0.67) with the sqrt-free squared
                       compare — the shape fingerprint for motif /
                       similarity search over series

Reference parity: none exist in the reference (pandas notebook
analytics stop at counts); these extend the brief's training-pipeline
and time-series families (SURVEY §2 A4/W ext).

Cross-engine determinism (SURVEY 4.4): log2 is a CASE ladder on
integer count ranges (no libm); SAX breakpoints compare
10000*(m-mu)^2 vs 4489*sigma2 with the sign split first, so the
z-threshold test is exact integer arithmetic (0.67^2 = 0.4489 on the
e4 lattice); rolling medians select the lower median by rank over the
<=7-row window population, a total order both engines share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import tokens, tokens_sql
from .queries import _t

QUERIES_EXT14: dict = {}
ORACLE_EXT14: dict = {}

_DAY_NS = 86400000000000


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, m_e4) daily mean lattice — the theil_sen_trend
    reduction: corpus collapses map-side to |types| x |days| rows."""
    e = (_t(spark, sf_dir, "events")
         .select("event_type",
                 F.expr(f"ts_ns div {_DAY_NS}").alias("day"),
                 F.expr("CAST(round(value * 100) AS BIGINT)")
                 .alias("v_e2")))
    return (e.groupBy("event_type", "day")
            .agg(F.expr("CAST(100 * CAST(sum(v_e2) AS DECIMAL(38,0))"
                        " div count(*) AS BIGINT)").alias("m_e4")))


_DAILY_SQL = f"""
  SELECT event_type, epoch_ns(ts) // {_DAY_NS} AS day,
         CAST((100 * sum(CAST(round(value * 100) AS BIGINT)))
              // count(*) AS BIGINT) AS m_e4
  FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# rolling_median_7d — robust rolling smoother over daily means
# ---------------------------------------------------------------------------

_RM_WIN = 7  # trailing window width (days)


def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {_RM_WIN}-day rolling exact median of daily mean values
    per event type (lower median — no interpolation, so the statistic
    is an actual observed lattice value both engines agree on).
    ewma_report smooths exponentially and chases level shifts;
    the rolling median ignores any <4-day spike entirely — the robust
    pair a monitoring pipeline wants side by side.

    Scale shape: the corpus collapses to |types| x |days| daily means
    FIRST; the window population comes from a range-predicate join of
    that daily table to itself EQUI-KEYED on event_type (day count is
    the calendar, not the corpus, so per-type cost is |days| x
    {_RM_WIN} rows at any corpus size). The median picks rank
    (n+1) div 2 via a row_number over the <= {_RM_WIN}-row window
    population — partitioned by (type, day), bounded by construction.
    """
    daily = _daily(spark, sf_dir)
    a = daily.select("event_type", F.col("day").alias("d"),
                     F.col("m_e4").alias("m"))
    b = daily.select(F.col("event_type").alias("et2"),
                     F.col("day").alias("db"), F.col("m_e4").alias("mb"))
    win = (a.join(b, (a.event_type == b.et2)
                  & (b.db >= a.d - (_RM_WIN - 1)) & (b.db <= a.d))
           .select("event_type", "d", "m", "db", "mb"))
    wrn = Window.partitionBy("event_type", "d").orderBy("mb", "db")
    wcnt = Window.partitionBy("event_type", "d")
    return (win.withColumn("rn", F.row_number().over(wrn))
            .withColumn("n_win", F.count(F.lit(1)).over(wcnt))
            .filter(F.expr("rn = (n_win + 1) div 2"))
            .select("event_type", F.col("d").alias("day"),
                    F.col("m").alias("day_mean_e4"), "n_win",
                    F.col("mb").alias("roll_median_e4"))
            .orderBy("event_type", "day"))


ORACLE_ROLLING_MEDIAN = f"""
WITH daily AS ({_DAILY_SQL}
), win AS (
  SELECT a.event_type, a.day AS d, a.m_e4 AS m, b.day AS db, b.m_e4 AS mb
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type
   AND b.day >= a.day - {_RM_WIN - 1} AND b.day <= a.day
), ranked AS (
  SELECT event_type, d, m, mb,
         row_number() OVER (PARTITION BY event_type, d
                            ORDER BY mb, db) AS rn,
         count(*) OVER (PARTITION BY event_type, d) AS n_win
  FROM win
)
SELECT event_type, d AS day, m AS day_mean_e4,
       CAST(n_win AS BIGINT) AS n_win, mb AS roll_median_e4
FROM ranked WHERE rn = (n_win + 1) // 2
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# unigram_surprisal — rarity-ladder LM-quality proxy per document
# ---------------------------------------------------------------------------

_US_TOPK = 25
_US_MAX_LG = 20  # counts >= 2^20 all land in the top bucket


def _lg_ladder_sql(col: str) -> str:
    """floor(log2({col})) as a CASE ladder on integer ranges — exact,
    no libm, identical text on both engines."""
    branches = " ".join(
        f"WHEN {col} < {1 << (k + 1)} THEN {k}"
        for k in range(_US_MAX_LG))
    return f"CASE {branches} ELSE {_US_MAX_LG} END"


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram surprisal proxy: each token contributes
    ({_US_MAX_LG} - floor(log2(global_count))) — rare tokens score
    high, stopwords score ~0 — and the doc score is the e6 token
    average. This is the shape of a unigram-LM perplexity filter
    (surprisal = -log p ~ log(T) - log(c); the shared log(T) shifts
    every doc equally, so ranking needs only the count ladder), the
    signal that catches gibberish / rare-token stuffing that
    length-based text_quality misses. No float log anywhere: the
    ladder is integer CASE branches.

    Scale shape: postings aggregate map-side to |vocab| counts; the
    rarity table joins back keyed on term (|vocab| << corpus); the
    doc score is one combinable groupBy + TakeOrdered. At 100 TB the
    vocab table is still dictionary-sized — broadcast or shuffle join,
    both correct, Catalyst picks by stats.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    postings = d.select("doc_id", F.explode(toks).alias("term"))
    rarity = (postings.groupBy("term")
              .agg(F.count(F.lit(1)).alias("c"))
              .select("term",
                      (F.lit(_US_MAX_LG)
                       - F.expr(_lg_ladder_sql("c")))
                      .cast("bigint").alias("sb")))
    return (postings.join(rarity, "term")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.expr("(1000000 * sum(sb)) div count(*)")
                 .alias("surprisal_e6"))
            .orderBy(F.desc("surprisal_e6"), "doc_id")
            .limit(_US_TOPK))


ORACLE_UNIGRAM_SURPRISAL = rf"""
WITH postings AS (
  SELECT doc_id,
         unnest({tokens_sql()}) AS term
  FROM documents
), rarity AS (
  SELECT term,
         CAST({_US_MAX_LG} - ({_lg_ladder_sql('count(*)')}) AS BIGINT)
           AS sb
  FROM postings GROUP BY term
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST((1000000 * sum(sb)) // count(*) AS BIGINT) AS surprisal_e6
FROM postings JOIN rarity USING (term)
GROUP BY doc_id ORDER BY surprisal_e6 DESC, doc_id LIMIT {_US_TOPK}
"""


# ---------------------------------------------------------------------------
# feature_hashing_report — hashing-trick collision audit
# ---------------------------------------------------------------------------

_FH_BUCKETS = 256


def q_feature_hashing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit: map the corpus's word-BIGRAM
    feature space into {_FH_BUCKETS} md5 buckets (the feature hashing
    a linear model or Bloom-ish sketch would use) and report the
    bucket LOAD histogram — for each load L (features per bucket), how
    many buckets carry it and how much token mass rides on collided
    features. The load-2+ rows quantify exactly what the hashed model
    can no longer distinguish. Bigrams, not unigrams: the feature
    space must exceed the bucket count for the audit to measure
    anything (|unigram vocab| here is 31 — every load would be 1).

    Scale shape: vocab-sized everything — bigram features collapse
    map-side to counts, features to buckets, buckets to the load
    histogram (<= {_FH_BUCKETS} rows, then <= max-load rows). The
    corpus is scanned once and never joined.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.array_join(F.slice("toks", i, 2), " "))
    terms = (d.select(toks.alias("toks"))
             .filter(F.size("toks") >= 2)
             .select(F.explode(grams).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    buckets = (terms.select(
        (F.conv(F.substring(F.md5("term"), 1, 13), 16, 10)
         .cast("bigint") % _FH_BUCKETS).alias("bucket"),
        "c")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("load"),
             F.sum("c").alias("tokens")))
    return (buckets.groupBy("load")
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.sum("tokens").alias("total_tokens"))
            .withColumn("n_terms", F.expr("load * n_buckets"))
            .orderBy("load"))


ORACLE_FEATURE_HASHING = rf"""
WITH tok AS (
  SELECT {tokens_sql()} AS toks
  FROM documents
), terms AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+1], ' '))) AS term
        FROM tok WHERE len(toks) >= 2) GROUP BY term
), buckets AS (
  SELECT CAST(('0x' || substr(md5(term), 1, 13)) AS BIGINT)
           % {_FH_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS load,
         CAST(sum(c) AS BIGINT) AS tokens
  FROM terms GROUP BY 1
)
SELECT load, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       load * CAST(count(*) AS BIGINT) AS n_terms
FROM buckets GROUP BY load ORDER BY load
"""


# ---------------------------------------------------------------------------
# sax_symbolic — SAX shape fingerprint of daily-mean series
# ---------------------------------------------------------------------------


def q_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each event type's daily-mean series: each
    day maps to {{a, b, c, d}} by its z-score against the type's own
    mean/variance at breakpoints -0.67 / 0 / +0.67 (the classic
    4-symbol SAX alphabet), concatenated in day order into the type's
    shape string — the fingerprint time-series motif search indexes
    on. The z test is SQRT-FREE: sign(m - mu) splits the alphabet
    half, then 10000*(m-mu)^2 >= 4489*sigma2 decides the outer band
    (0.67^2 = 0.4489 exact on the lattice), so no float sqrt/stddev
    enters and both engines agree bit-for-bit.

    Scale shape: daily means are |types| x |days| (map-side reduce of
    the corpus); per-type moments are a |types|-row broadcast back;
    the symbol string is an order-explicit sorted-fold
    (array_sort(collect_list(struct(day, sym)))), no window. Variance
    uses integer ssd div n on the e4 lattice — m_e4 <= ~5.6e6 so
    squared deviations stay far under int64.
    """
    daily = _daily(spark, sf_dir)
    mom = (daily.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.expr("sum(m_e4) div count(*)").alias("mu_e4")))
    dev = (daily.join(F.broadcast(mom), "event_type")
           .withColumn("dlt", F.expr("m_e4 - mu_e4")))
    var = (dev.groupBy("event_type")
           .agg(F.expr("sum(dlt * dlt) div count(*)").alias("sigma2")))
    sym = (dev.join(F.broadcast(var), "event_type")
           .withColumn("sym", F.expr(
               "CASE WHEN dlt < 0 AND 10000 * dlt * dlt >= 4489 * sigma2"
               " THEN 'a' WHEN dlt < 0 THEN 'b'"
               " WHEN 10000 * dlt * dlt < 4489 * sigma2 THEN 'c'"
               " ELSE 'd' END")))
    return (sym.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.max("sigma2").alias("sigma2_e8"),
                 F.expr("array_join(transform("
                        "array_sort(collect_list(struct(day, sym))),"
                        " x -> x.sym), '')").alias("sax_string"))
            .orderBy("event_type"))


ORACLE_SAX = f"""
WITH daily AS ({_DAILY_SQL}
), mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m_e4) // count(*) AS BIGINT) AS mu_e4
  FROM daily GROUP BY 1
), dev AS (
  SELECT d.event_type, d.day, d.m_e4 - mu_e4 AS dlt
  FROM daily d JOIN mom USING (event_type)
), var AS (
  SELECT event_type, CAST(sum(dlt * dlt) // count(*) AS BIGINT) AS sigma2
  FROM dev GROUP BY 1
), sym AS (
  SELECT dev.event_type, day,
         CASE WHEN dlt < 0 AND 10000 * dlt * dlt >= 4489 * sigma2
              THEN 'a' WHEN dlt < 0 THEN 'b'
              WHEN 10000 * dlt * dlt < 4489 * sigma2 THEN 'c'
              ELSE 'd' END AS sym
  FROM dev JOIN var USING (event_type)
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       (SELECT max(sigma2) FROM var v
         WHERE v.event_type = sym.event_type) AS sigma2_e8,
       string_agg(sym, '' ORDER BY day) AS sax_string
FROM sym GROUP BY event_type ORDER BY event_type
"""


QUERIES_EXT14.update({
    "rolling_median_7d": q_rolling_median_7d,
    "unigram_surprisal": q_unigram_surprisal,
    "feature_hashing_report": q_feature_hashing_report,
    "sax_symbolic": q_sax_symbolic,
})
ORACLE_EXT14.update({
    "rolling_median_7d": ORACLE_ROLLING_MEDIAN,
    "unigram_surprisal": ORACLE_UNIGRAM_SURPRISAL,
    "feature_hashing_report": ORACLE_FEATURE_HASHING,
    "sax_symbolic": ORACLE_SAX,
})
