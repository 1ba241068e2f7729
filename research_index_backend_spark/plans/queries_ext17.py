"""Catalog extension 17 (round 8, late wave 6). Monitoring baselines,
exact apportionment, storage advice, and dedup tuning:

  seasonal_anomaly_report  day-of-week-adjusted anomaly flags over the
                           daily-mean series: a day is anomalous vs
                           ITS OWN weekday's baseline (mean + 2-sigma
                           on the sqrt-free lattice) — the seasonal
                           twin of zscore_outliers' global z
  quota_allocation         largest-remainder (Hamilton) apportionment
                           of a fixed eval budget across (lang,
                           source) strata — exact integer quotas that
                           SUM TO THE BUDGET, which naive rounding
                           does not
  codec_advisor            per-column storage-codec recommendation
                           from NDV / top-value share (DICT vs RLE vs
                           PLAIN) — the scan-side profile a lakehouse
                           writer consults
  dedup_threshold_sweep    candidate-pair counts across a Jaccard
                           threshold ladder over the shingle inverted
                           index — the tuning curve that picks the
                           dedup operating point

Reference parity: none exist in the reference; monitoring / eval-set /
storage / dedup-tuning families from the build brief.

Cross-engine determinism (SURVEY 4.4): anomaly tests compare
(m - mu)^2 vs 4*sigma2 entirely in integers (2-sigma band, sqrt-free);
quotas are integer div/mod with a rank over the bounded strata dim;
threshold tests are 1000*inter >= t*union integer compares — the
float Jaccard never materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import tokens, tokens_sql
from .queries import _t
from .queries_ext14 import _daily, _DAILY_SQL

QUERIES_EXT17: dict = {}
ORACLE_EXT17: dict = {}


# ---------------------------------------------------------------------------
# seasonal_anomaly_report — weekday-baseline anomaly flags
# ---------------------------------------------------------------------------


def q_seasonal_anomaly_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted anomalies: each (type, day) daily mean is
    tested against the baseline of ITS OWN weekday (mean + variance of
    that type's same-weekday days), flagged when (m - mu)^2 > 4 *
    sigma2 — the exact 2-sigma band with no sqrt (the sax_symbolic
    compare). A Monday spike that is normal FOR MONDAYS stays quiet
    where the global zscore_outliers would fire; that is the point of
    seasonal baselining.

    Scale shape: daily means are |types| x |days| (map-side reduce);
    weekday baselines aggregate that to |types| x 7 rows and BROADCAST
    back; the report is a pure column test. Nothing after the first
    aggregate scales with the corpus.
    """
    daily = _daily(spark, sf_dir).withColumn("dow", F.expr("day % 7"))
    base = (daily.groupBy("event_type", "dow")
            .agg(F.count(F.lit(1)).alias("n_dow"),
                 F.expr("sum(m_e4) div count(*)").alias("mu_e4")))
    dev = (daily.join(F.broadcast(base), ["event_type", "dow"])
           .withColumn("dlt", F.expr("m_e4 - mu_e4")))
    var = (dev.groupBy("event_type", "dow")
           .agg(F.expr("sum(dlt * dlt) div count(*)").alias("sigma2")))
    return (dev.join(F.broadcast(var), ["event_type", "dow"])
            .select("event_type", "day", "dow", "m_e4", "mu_e4", "sigma2",
                    F.expr("CAST(dlt * dlt > 4 * sigma2 AS INT)")
                    .alias("is_anomaly"))
            .orderBy("event_type", "day"))


ORACLE_SEASONAL_ANOMALY = f"""
WITH daily AS ({_DAILY_SQL}
), d2 AS (
  SELECT event_type, day, m_e4, day % 7 AS dow FROM daily
), base AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_dow,
         CAST(sum(m_e4) // count(*) AS BIGINT) AS mu_e4
  FROM d2 GROUP BY 1, 2
), dev AS (
  SELECT d2.event_type, day, dow, m_e4, mu_e4, m_e4 - mu_e4 AS dlt
  FROM d2 JOIN base USING (event_type, dow)
), var AS (
  SELECT event_type, dow,
         CAST(sum(dlt * dlt) // count(*) AS BIGINT) AS sigma2
  FROM dev GROUP BY 1, 2
)
SELECT dev.event_type, day, dev.dow, m_e4, mu_e4, sigma2,
       CAST(dlt * dlt > 4 * sigma2 AS INT) AS is_anomaly
FROM dev JOIN var ON dev.event_type = var.event_type
                 AND dev.dow = var.dow
ORDER BY dev.event_type, day
"""


# ---------------------------------------------------------------------------
# quota_allocation — largest-remainder eval-budget apportionment
# ---------------------------------------------------------------------------

_QA_BUDGET = 1000  # eval examples to apportion


def q_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a {_QA_BUDGET}-
    example eval budget across (lang, source) strata, proportional to
    document counts: base = budget*cnt div total, then the leftover
    seats go to the largest remainders (budget*cnt mod total, ties to
    the smaller stratum key). The quotas are exact integers that SUM
    TO THE BUDGET — the property proportional float rounding violates
    and a reproducible eval build requires (train_split_report samples
    rows; THIS sizes strata).

    Scale shape: the corpus reduces map-side to the (lang, source)
    strata dim (~tens of rows at any corpus size — both are bounded
    vocabularies); total/rank/leftover all ride windows over that
    bounded dim (the mix_plan allowlisted shape). One scan, one tiny
    exchange.
    """
    strata = (_t(spark, sf_dir, "documents")
              .groupBy("lang", "source")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy()
    wr = Window.orderBy(F.desc("rem"), "lang", "source")
    return (strata
            .withColumn("total", F.sum("n_docs").over(w))
            .withColumn("base",
                        F.expr(f"({_QA_BUDGET} * n_docs) div total"))
            .withColumn("rem",
                        F.expr(f"({_QA_BUDGET} * n_docs) % total"))
            .withColumn("leftover",
                        F.expr(f"{_QA_BUDGET}") - F.sum("base").over(w))
            .withColumn("rk", F.row_number().over(wr))
            .withColumn("extra",
                        F.expr("CAST(rk <= leftover AS BIGINT)"))
            .select("lang", "source", "n_docs", "base", "extra",
                    F.expr("base + CAST(rk <= leftover AS BIGINT)")
                    .alias("quota"))
            .orderBy("lang", "source"))


ORACLE_QUOTA_ALLOCATION = f"""
WITH strata AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
), calc AS (
  SELECT lang, source, n_docs,
         CAST(sum(n_docs) OVER () AS BIGINT) AS total
  FROM strata
), based AS (
  SELECT lang, source, n_docs,
         ({_QA_BUDGET} * n_docs) // total AS base,
         ({_QA_BUDGET} * n_docs) % total AS rem
  FROM calc
), ranked AS (
  SELECT lang, source, n_docs, base,
         {_QA_BUDGET} - CAST(sum(base) OVER () AS BIGINT) AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
  FROM based
)
SELECT lang, source, n_docs, CAST(base AS BIGINT) AS base,
       CAST(rk <= leftover AS BIGINT) AS extra,
       CAST(base + CAST(rk <= leftover AS BIGINT) AS BIGINT) AS quota
FROM ranked ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# codec_advisor — per-column storage-codec recommendation
# ---------------------------------------------------------------------------

# (column alias, projection SQL) over orders — mixed-cardinality set so
# each recommendation branch fires on real data
_CA_COLUMNS = (
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_totalprice_cents",
     "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
)
_CA_DICT_NDV = 1000        # NDV at or below this -> dictionary encode
_CA_RLE_SHARE_E6 = 300000  # top value >= 30% of rows -> RLE wins


def q_codec_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-codec advisor: for each profiled column, NDV, the top
    value's share, and a deterministic recommendation — DICT when the
    dictionary is small ({_CA_DICT_NDV} NDV), RLE when one value
    dominates (>= 30% share), PLAIN otherwise. This is the profile a
    lakehouse writer (or a column-stats-driven OPTIMIZE) consults
    before choosing encodings; table_profile reports shapes, THIS
    turns them into a write-path decision.

    Scale shape, per column: ONE groupBy(value) counts pass, then a
    3-value aggregate of that (ndv = count, top1 = max, n = sum) — the
    shuffle carries distinct values, never rows, and the per-column
    reports union into a {len(_CA_COLUMNS)}-row table. No joins, no
    windows, no second scan of the fact table per metric.
    """
    o = _t(spark, sf_dir, "orders")
    rows = []
    for name, proj in _CA_COLUMNS:
        counts = (o.select(F.expr(proj).alias("v"))
                  .groupBy("v").agg(F.count(F.lit(1)).alias("c")))
        rows.append(counts.agg(
            F.count(F.lit(1)).alias("ndv"),
            F.max("c").alias("top1"),
            F.sum("c").alias("n_rows"))
            .select(F.lit(name).alias("column_name"), "n_rows", "ndv",
                    "top1",
                    F.expr("CAST(1000000 * CAST(top1 AS DECIMAL(38,0))"
                           " div n_rows AS BIGINT)")
                    .alias("top1_share_e6"),
                    F.expr(f"CASE WHEN ndv <= {_CA_DICT_NDV} THEN 'DICT'"
                           f" WHEN CAST(1000000 * CAST(top1 AS"
                           f" DECIMAL(38,0)) div n_rows AS BIGINT)"
                           f" >= {_CA_RLE_SHARE_E6} THEN 'RLE'"
                           f" ELSE 'PLAIN' END").alias("codec")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("column_name")


def _ca_col_sql(name: str, proj: str) -> str:
    return f"""
SELECT '{name}' AS column_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS ndv,
       CAST(max(c) AS BIGINT) AS top1,
       (1000000 * CAST(max(c) AS BIGINT)) // CAST(sum(c) AS BIGINT)
         AS top1_share_e6,
       CASE WHEN count(*) <= {_CA_DICT_NDV} THEN 'DICT'
            WHEN (1000000 * CAST(max(c) AS BIGINT))
                 // CAST(sum(c) AS BIGINT) >= {_CA_RLE_SHARE_E6} THEN 'RLE'
            ELSE 'PLAIN' END AS codec
FROM (SELECT {proj.replace("AS STRING", "AS VARCHAR")} AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1)"""


ORACLE_CODEC_ADVISOR = "\nUNION ALL\n".join(
    _ca_col_sql(n, p) for n, p in _CA_COLUMNS) + "\nORDER BY column_name"


# ---------------------------------------------------------------------------
# dedup_threshold_sweep — candidate counts across a Jaccard ladder
# ---------------------------------------------------------------------------

_DTS_SHINGLE = 5
_DTS_MAX_DF = 50
_DTS_THRESHOLDS = (500, 600, 700, 800, 900)  # e3


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup tuning curve: for each Jaccard threshold t in
    {_DTS_THRESHOLDS} (e3), how many shingle-set pairs qualify — the
    sweep that picks the dedup operating point before committing to a
    delete pass (dedup_jaccard evaluates ONE threshold; recall/
    precision move together along this curve). Thresholds test
    1000*inter >= t*(sz_a + sz_b - inter) in exact integers; the float
    Jaccard never exists.

    Scale shape: the inverted index df-caps shingles (<= {_DTS_MAX_DF}
    docs per shingle — corpus-relative discrimination, the
    dedup_jaccard discipline) so the candidate self-join is bounded by
    df^2 per shingle, never corpus^2; sizes come from the SAME capped
    index (filtered feature space); the sweep is one CASE-sum
    aggregate over the pair table — 1 row out.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    sh = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (_DTS_SHINGLE - 1)),
        lambda i: F.md5(F.array_join(F.slice("toks", i, _DTS_SHINGLE),
                                     " ")))
    inv = (d.select("doc_id", toks.alias("toks"))
           .filter(F.size("toks") >= _DTS_SHINGLE)
           .select("doc_id", F.explode(sh).alias("s"))
           .distinct())
    rare = (inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _DTS_MAX_DF).select("s"))
    capped = inv.join(rare, "s", "left_semi").localCheckpoint()
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = capped.select("s", F.col("doc_id").alias("id_a"))
    b = capped.select("s", F.col("doc_id").alias("id_b"))
    co = (a.join(b, "s").filter(F.col("id_a") < F.col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(F.count(F.lit(1)).alias("inter")))
    pairs = (co.join(sizes.withColumnRenamed("doc_id", "id_a")
                     .withColumnRenamed("sz", "sz_a"), "id_a")
             .join(sizes.withColumnRenamed("doc_id", "id_b")
                   .withColumnRenamed("sz", "sz_b"), "id_b")
             .withColumn("uni", F.expr("sz_a + sz_b - inter")))
    aggs = [F.count(F.lit(1)).alias("n_candidates")]
    for t in _DTS_THRESHOLDS:
        aggs.append(F.sum(F.expr(
            f"CAST(1000 * inter >= {t} * uni AS BIGINT)"))
            .alias(f"n_ge_{t}"))
    return pairs.agg(*aggs)


ORACLE_DEDUP_SWEEP = rf"""
WITH tok AS (
  SELECT doc_id,
         {tokens_sql()} AS toks
  FROM documents
), inv AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - {_DTS_SHINGLE - 1}),
               i -> md5(array_to_string(toks[i:i+{_DTS_SHINGLE - 1}],
                                        ' ')))) AS s
    FROM tok WHERE len(toks) >= {_DTS_SHINGLE})
), rare AS (
  SELECT s FROM inv GROUP BY s HAVING count(*) <= {_DTS_MAX_DF}
), capped AS (
  SELECT inv.doc_id, inv.s FROM inv JOIN rare USING (s)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM capped GROUP BY 1
), co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT inter, sa.sz AS sz_a, sb.sz AS sz_b,
         sa.sz + sb.sz - inter AS uni
  FROM co JOIN sizes sa ON sa.doc_id = co.id_a
          JOIN sizes sb ON sb.doc_id = co.id_b
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       {", ".join(f'''CAST(sum(CASE WHEN 1000 * inter >= {t} * uni
           THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_{t}'''
                  for t in _DTS_THRESHOLDS)}
FROM pairs
"""


QUERIES_EXT17.update({
    "seasonal_anomaly_report": q_seasonal_anomaly_report,
    "quota_allocation": q_quota_allocation,
    "codec_advisor": q_codec_advisor,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
})
ORACLE_EXT17.update({
    "seasonal_anomaly_report": ORACLE_SEASONAL_ANOMALY,
    "quota_allocation": ORACLE_QUOTA_ALLOCATION,
    "codec_advisor": ORACLE_CODEC_ADVISOR,
    "dedup_threshold_sweep": ORACLE_DEDUP_SWEEP,
})
