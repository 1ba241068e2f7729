"""Catalog extension 7 (round 7). Feature-store / data-governance /
table-maintenance operators a 100 TB training-data platform needs and
the catalog did not yet cover — every entry oracle-checked against
DuckDB like the rest of the catalog.

  pit_join            point-in-time (leakage-free) feature join: each
                      label event sees ONLY features computed from
                      strictly-earlier days — the feature-store op
  record_linkage      Fellegi-Sunter-style blocked record linkage with
                      data-driven integer agreement weights
  k_anonymity         quasi-identifier equivalence-class risk report
                      (re-identification / governance gate)
  merkle_diff         bucket-fingerprint table diff: O(buckets) sync
                      check, row-level diff only inside dirty buckets
  trend_regression    per-group OLS (slope / R^2) from exact moment
                      sums — one pass, no per-group iteration
  interpolate_linear  time-series gap fill by linear interpolation
                      between neighboring observations (the ffill
                      companion: gapfill_ffill carries, this blends)
  zone_map_prune      zone-map (min/max) file-pruning simulation across
                      two physical layouts — quantifies how clustering
                      layout drives scan pruning
  hll_union_report    per-region HLL sketches MERGED by register-max
                      into a global union estimate — the mergeability
                      property that makes sketches work on 1000
                      executors
  graph_clustering_coeff  local clustering coefficient histogram over
                      the part co-purchase graph (degree-oriented
                      triangle counting, per-node)
  bpe_pair_stats      byte-pair-encoding merge statistics: top adjacent
                      symbol pairs before and after applying the first
                      merge — the tokenizer-training primitive

Cross-engine determinism (SURVEY 4.4 discipline): money/values are
exact integer cents via round(x*100); aggregates accumulate in
int64/decimal-128; any real-valued result is ONE all-double expression
over exact sums followed by floor() (IEEE ops are bit-identical across
engines; only libm transcendentals drift, and none is used here except
the HLL linear-counting ln() inherited from ext6, whose floor sits far
from integer boundaries). Integer division uses Spark `div` == DuckDB
`//` (both truncate toward zero) and is only applied to non-negative
operands unless noted.

Reference parity: the reference has no feature-store / governance /
table-maintenance surface (it is a graph ETL backend,
create_graph_from_doi.py); these operators are the large-scale
pipeline extension the build brief requires, expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _t
from .queries_ext6 import _HLL_M, _HLL_RHO_SPACE

QUERIES_EXT7: dict = {}
ORACLE_EXT7: dict = {}


# ---------------------------------------------------------------------------
# pit_join — point-in-time feature join (leakage-free feature store)
# ---------------------------------------------------------------------------


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event is enriched with the user's cumulative
    activity features AS OF THE END OF THE PREVIOUS DAY — the
    point-in-time join every feature store needs so training features
    never leak same-interval information into the label.

    Plan shape: daily per-user aggregates (one shuffle on (user, day)),
    running cumulative via a per-user window, then the as-of match runs
    through operators.asof.asof_join — the union + sorted carry-forward
    plan: ONE shuffle on user_id, linear per key, no join operator at
    all (the naive inequality join is quadratic in per-key density).
    Strict "features < label day" is encoded by keying labels at
    day - 1, so the inclusive as-of carry (feat.day <= label.day - 1)
    is exactly the leakage-free semantics. At 100 TB both sides
    partition by user and the window never materializes more than one
    user's history.

    Output: per prior-activity bucket, purchase count / spend / mean
    prior-event count — the label-vs-feature audit a training run
    starts with.
    """
    from ..operators.asof import asof_join
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("k"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"))
    daily = base.groupBy("user_id", "k").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum("value_c").alias("v_sum"))
    w = (Window.partitionBy("user_id").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, 0))
    feat = daily.select(
        "user_id", "k",
        F.sum("n_ev").over(w).alias("cum_n"),
        F.sum("v_sum").over(w).alias("cum_v"))
    labels = (base.filter(F.col("event_type") == "purchase")
              .select("user_id", (F.col("k") - 1).alias("k"), "value_c"))
    pit = asof_join(labels, feat, on="user_id", ts="k",
                    value_cols=["cum_n", "cum_v"])
    bucket = (F.when(F.col("cum_n").isNull(), "cold")
              .when(F.col("cum_n") < 30, "light")
              .when(F.col("cum_n") < 60, "mid")
              .otherwise("heavy").alias("bucket"))
    return (pit.select(bucket, "value_c", "cum_n")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.sum("value_c").alias("spend_c"),
                 F.floor(F.sum("cum_n").cast("double")
                         / F.count(F.lit(1)).cast("double"))
                 .cast("bigint").alias("avg_prior_events")))


ORACLE_PIT = """
WITH base AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS k,
         event_type, CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
),
daily AS (
  SELECT user_id, k, count(*) AS n_ev, sum(value_c) AS v_sum
  FROM base GROUP BY user_id, k
),
feat AS (
  SELECT user_id, k,
         sum(n_ev) OVER (PARTITION BY user_id ORDER BY k
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_n,
         sum(v_sum) OVER (PARTITION BY user_id ORDER BY k
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_v
  FROM daily
),
lab AS (
  SELECT user_id, k - 1 AS k, value_c FROM base
  WHERE event_type = 'purchase'
),
pit AS (
  SELECT l.value_c, f.cum_n
  FROM lab l ASOF LEFT JOIN feat f
    ON l.user_id = f.user_id AND f.k <= l.k
)
SELECT CASE WHEN cum_n IS NULL THEN 'cold'
            WHEN cum_n < 30 THEN 'light'
            WHEN cum_n < 60 THEN 'mid'
            ELSE 'heavy' END AS bucket,
       count(*) AS n_purchases,
       CAST(sum(value_c) AS BIGINT) AS spend_c,
       CAST(floor(CAST(sum(cum_n) AS DOUBLE) / CAST(count(*) AS DOUBLE))
            AS BIGINT) AS avg_prior_events
FROM pit GROUP BY 1
"""


# ---------------------------------------------------------------------------
# record_linkage — Fellegi-Sunter-style blocked linkage scoring
# ---------------------------------------------------------------------------

_RL_TOPK = 20
# Corpus-adaptive block refinement (the adaptive_lsh_bits contract,
# operators/dedup.py:233): with the base (brand, type) key alone, block
# size grows with n and candidate volume with n^2 — the 10x probe
# measured 7.4x wall for 10x parts before refinement landed. Levels
# 1/2 append the first letter of the adj/noun name tokens (x8 block
# branching each); levels 3/4 escalate to the FULL noun / adj tokens.
# Letter depth beyond the first is dead weight on real vocabularies —
# the r12 100x probe measured it: 2M parts at level 2 sat at 4.1e8
# candidate pairs (82.4x wall), a hypothetical adj-second-letter level
# left the block count EXACTLY unchanged (the ~8-word adj vocabulary
# is determined by its first letter), while full-noun blocking
# collapsed candidates to 2.1e6 (max block 8). Full-token levels cost
# recall only on pairs that disagree on that token — which forfeit the
# token's agreement weight, the largest in the F-S score (rarest-
# agreement field), so they were never top-20 material in a corpus
# dense with full-agreement pairs. Past level 4 additional blocking
# PASSES (multi-scheme union, sorted-neighborhood) are the production
# answer, not more depth. Checked SFs (2000 parts at sf0.01) stay at
# level 0, so the static oracle remains valid — pinned by
# test_rl_refine_contract.
_RL_REFINE_AT = (15_000, 120_000, 960_000, 7_680_000)  # rows -> lvl 1-4


def _rl_refine(n_rows: int) -> int:
    """Block-refinement level for a given corpus size."""
    return sum(1 for t in _RL_REFINE_AT if n_rows >= t)


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record-linkage scoring over parts: candidate pairs share
    a (brand, type) block; each compared field contributes a
    DATA-DRIVEN integer agreement weight — rarer-to-agree-by-chance
    fields weigh more, the Fellegi-Sunter idea with the log replaced by
    an exact integer inverse (weight_f = 1e18 div u_f_e12, u_f =
    P[two random records agree on f] = sum(cnt^2)/n^2) so the score is
    a monotone transform of the F-S log-odds under fixed m, and every
    arithmetic step is integer-exact on both engines.

    Scale: the block key bounds the quadratic — and the key itself is
    CORPUS-SIZED (_rl_refine): past 15k/120k rows the block key picks
    up the first letter of the adj/noun name tokens, holding rows per
    block roughly constant as the corpus grows (without this the 10x
    probe measured 7.4x; with it, pair volume per block is flat and
    only block count scales). The u statistics are four 1-row
    aggregates, broadcast into the scoring join (the
    cascade_delete_audit shape). Accumulators use decimal-128:
    sum(cnt^2) * 1e12 overflows int64 at ~20k rows/value.

    Output: top-20 scored pairs (score desc, ids asc) with per-field
    agreement flags — the clerical-review queue.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size",
        F.element_at(F.split("p_name", " "), 1).alias("adj"),
        F.element_at(F.split("p_name", " "), 2).alias("noun"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT) div 10000")
        .alias("price_band"))
    from ..sources.stats import table_rowcount_or_count
    n_rows = table_rowcount_or_count(sf_dir, "part", p, "p_partkey")
    refine = _rl_refine(n_rows)
    if refine >= 1:
        p = p.withColumn("blk1", F.substring("adj", 1, 1))
    if refine >= 2:
        p = p.withColumn("blk2", F.substring("noun", 1, 1))
    if refine >= 3:
        p = p.withColumn("blk3", F.col("noun"))
    if refine >= 4:
        p = p.withColumn("blk4", F.col("adj"))

    def u_weight(col: str):
        cnts = p.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cd = F.col("c").cast("decimal(38,0)")
        agg = cnts.agg(
            F.sum(cd * cd).alias("s2"),
            F.sum(cd).alias("n"))
        return agg.select(
            F.expr("CAST(1000000000000000000 AS DECIMAL(38,0)) div "
                   "((s2 * 1000000000000) div (n * n))")
            .cast("bigint").alias(f"w_{col}"))

    w = (u_weight("adj").crossJoin(u_weight("noun"))
         .crossJoin(u_weight("p_size")).crossJoin(u_weight("price_band")))

    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    cond = ((F.col("a_p_brand") == F.col("b_p_brand"))
            & (F.col("a_p_type") == F.col("b_p_type"))
            & (F.col("a_p_partkey") < F.col("b_p_partkey")))
    for lvl in range(1, refine + 1):
        cond = cond & (F.col(f"a_blk{lvl}") == F.col(f"b_blk{lvl}"))
    pairs = a.join(b, cond)
    scored = pairs.crossJoin(F.broadcast(w)).select(
        F.col("a_p_partkey").alias("id_a"),
        F.col("b_p_partkey").alias("id_b"),
        (F.col("a_adj") == F.col("b_adj")).cast("int").alias("m_adj"),
        (F.col("a_noun") == F.col("b_noun")).cast("int").alias("m_noun"),
        (F.col("a_p_size") == F.col("b_p_size")).cast("int").alias("m_size"),
        (F.col("a_price_band") == F.col("b_price_band")).cast("int")
        .alias("m_price"),
        (F.when(F.col("a_adj") == F.col("b_adj"), F.col("w_adj"))
         .otherwise(F.lit(0))
         + F.when(F.col("a_noun") == F.col("b_noun"), F.col("w_noun"))
         .otherwise(F.lit(0))
         + F.when(F.col("a_p_size") == F.col("b_p_size"),
                  F.col("w_p_size")).otherwise(F.lit(0))
         + F.when(F.col("a_price_band") == F.col("b_price_band"),
                  F.col("w_price_band")).otherwise(F.lit(0)))
        .alias("score"))
    return (scored.orderBy(F.col("score").desc(), "id_a", "id_b")
            .limit(_RL_TOPK))


ORACLE_RECORD_LINKAGE = f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_type, p_size,
         string_split(p_name, ' ')[1] AS adj,
         string_split(p_name, ' ')[2] AS noun,
         CAST(round(p_retailprice * 100) AS BIGINT) // 10000 AS price_band
  FROM part
),
w AS (
  SELECT
    (SELECT CAST(1000000000000000000 //
            ((sum(c*c) * 1000000000000) // (sum(c) * sum(c))) AS BIGINT)
     FROM (SELECT count(*) AS c FROM p GROUP BY adj)) AS w_adj,
    (SELECT CAST(1000000000000000000 //
            ((sum(c*c) * 1000000000000) // (sum(c) * sum(c))) AS BIGINT)
     FROM (SELECT count(*) AS c FROM p GROUP BY noun)) AS w_noun,
    (SELECT CAST(1000000000000000000 //
            ((sum(c*c) * 1000000000000) // (sum(c) * sum(c))) AS BIGINT)
     FROM (SELECT count(*) AS c FROM p GROUP BY p_size)) AS w_p_size,
    (SELECT CAST(1000000000000000000 //
            ((sum(c*c) * 1000000000000) // (sum(c) * sum(c))) AS BIGINT)
     FROM (SELECT count(*) AS c FROM p GROUP BY price_band)) AS w_price_band
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(a.adj = b.adj AS INT) AS m_adj,
       CAST(a.noun = b.noun AS INT) AS m_noun,
       CAST(a.p_size = b.p_size AS INT) AS m_size,
       CAST(a.price_band = b.price_band AS INT) AS m_price,
       (CASE WHEN a.adj = b.adj THEN w.w_adj ELSE 0 END
        + CASE WHEN a.noun = b.noun THEN w.w_noun ELSE 0 END
        + CASE WHEN a.p_size = b.p_size THEN w.w_p_size ELSE 0 END
        + CASE WHEN a.price_band = b.price_band THEN w.w_price_band
          ELSE 0 END) AS score
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
 AND a.p_partkey < b.p_partkey
CROSS JOIN w
ORDER BY score DESC, id_a, id_b
LIMIT {_RL_TOPK}
"""


# ---------------------------------------------------------------------------
# k_anonymity — quasi-identifier equivalence-class risk report
# ---------------------------------------------------------------------------

_KA_THRESHOLDS = (2, 5, 10, 25)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table: rows whose
    quasi-identifier combination (mktsegment, coarse region, account
    band) is shared by fewer than k records are re-identifiable at
    level k. Reports, for each governance threshold k, how many
    equivalence classes and rows fall below it — the
    suppression-budget estimate a release pipeline gates on.

    Plan: ONE grouped count over the QI columns (map-side combinable;
    the shuffle carries |classes| rows, not |rows|), then the tiny
    class table is exploded over the 4 thresholds and re-aggregated —
    no second pass over the data, no cross join. floor(acctbal/2000)
    on negative balances floors identically on both engines.
    """
    c = _t(spark, sf_dir, "customer")
    classes = (c.select(
        "c_mktsegment",
        (F.col("c_nationkey") % 10).alias("region_ish"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"))
        .groupBy("c_mktsegment", "region_ish", "bal_band")
        .agg(F.count(F.lit(1)).alias("cnt")))
    ks = F.explode(F.array(*[F.lit(k) for k in _KA_THRESHOLDS])).alias("k")
    return (classes.select("cnt", ks)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_classes"),
                 F.sum((F.col("cnt") < F.col("k")).cast("bigint"))
                 .alias("n_classes_at_risk"),
                 F.sum(F.when(F.col("cnt") < F.col("k"), F.col("cnt"))
                       .otherwise(F.lit(0))).alias("n_rows_at_risk"),
                 F.sum("cnt").alias("n_rows"))
            .select("k", "n_classes", "n_classes_at_risk", "n_rows_at_risk",
                    F.expr("CAST(CAST(n_rows_at_risk AS DECIMAL(38,0))"
                           " * 1000000 div n_rows AS BIGINT)")
                    .alias("risk_frac_e6")))


ORACLE_K_ANONYMITY = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey % 10 AS region_ish,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
         count(*) AS cnt
  FROM customer GROUP BY 1, 2, 3
),
ks AS (SELECT unnest({list(_KA_THRESHOLDS)}) AS k)
SELECT k, count(*) AS n_classes,
       CAST(sum(CAST(cnt < k AS BIGINT)) AS BIGINT) AS n_classes_at_risk,
       CAST(sum(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST((sum(CASE WHEN cnt < k THEN cnt ELSE 0 END) * 1000000)
            // sum(cnt) AS BIGINT) AS risk_frac_e6
FROM classes CROSS JOIN ks
GROUP BY k
"""


# ---------------------------------------------------------------------------
# trend_regression — per-group OLS from exact moment sums
# ---------------------------------------------------------------------------


def q_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: OLS slope and R^2 of monthly order
    revenue against month index, computed from EXACT moment sums (n,
    Σx, Σy, Σxy, Σx², Σy²) — the one-pass distributed regression: no
    per-group iteration, no matrix, map-side combinable aggregates.

    Determinism discipline (zscore_outliers): y is integer cents
    summed per month in int64, the moments accumulate in decimal-128
    (Σy² reaches ~1e21 at sf0.1, far past int64), and slope/R² are
    each ONE all-double expression over the exact moments, then
    floor-quantized. Joins: orders→customer equi-join (AQE broadcasts
    the dim at test SF; hash-shuffle at 100 TB), nation broadcast.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (o.join(c, o.o_custkey == c.c_custkey)
               .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .select(
                   "n_name",
                   ((F.year("o_orderdate") - 1995) * 12
                    + F.month("o_orderdate") - 1).alias("x"),
                   F.round(F.col("o_totalprice") * 100).cast("bigint")
                   .alias("cents"))
               .groupBy("n_name", "x")
               .agg(F.sum("cents").alias("y")))
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"), F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nd * sxy - sx * sy
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    # n >= 2 guard: a single-month group has varx = 0 and cov/varx = NaN,
    # which Spark's non-ANSI bigint cast turns into 0 while DuckDB keeps
    # NULL — a cross-engine divergence AND a silently-wrong flat slope.
    # x is unique within a group, so n >= 2 <=> varx > 0.
    return (m.filter(F.col("n") >= 2)
            .select(
                "n_name", F.col("n").alias("n_months"),
                F.floor(cov / varx * F.lit(100.0)).cast("bigint")
                .alias("slope_e2"),
                F.floor(cov * cov / (varx * vary) * F.lit(1000000.0))
                .cast("bigint").alias("r2_e6")))


ORACLE_TREND = """
WITH monthly AS (
  SELECT n_name,
         (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
m AS (
  SELECT n_name, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM monthly GROUP BY 1
)
SELECT n_name, n AS n_months,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 100.0) AS BIGINT) AS slope_e2,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS r2_e6
FROM m
WHERE n >= 2
"""


# ---------------------------------------------------------------------------
# interpolate_linear — linear-interpolation gap fill
# ---------------------------------------------------------------------------


def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily 'view' value series with missing days linearly
    interpolated between the neighboring observations — the resampling
    companion to gapfill_ffill (which carries the last value; this
    blends toward the next one). Sensor/metrics pipelines need both.

    Plan: daily aggregate (one shuffle), per-user day spine via
    sequence+explode (no calendar dim join), then prev/next neighbor
    lookup as TWO window passes over the same per-user sort —
    last(ignorenulls) forward and first(ignorenulls) backward — so the
    whole fill is one shuffle + two linear window scans, never a
    self-join. The interpolation value is one all-double expression
    over exact int64s, floor-quantized; prev/next distances are exact
    ints, division is IEEE-identical on both engines.

    Output: per day, observed vs interpolated user counts and sums —
    the fill-rate audit.
    """
    e = _t(spark, sf_dir, "events")
    daily = (e.filter(F.col("event_type") == "view")
             .select("user_id",
                     F.datediff(F.to_date("ts"),
                                F.lit("2024-01-01").cast("date")).alias("k"),
                     F.round(F.col("value") * 100).cast("bigint")
                     .alias("value_c"))
             .groupBy("user_id", "k").agg(F.sum("value_c").alias("v")))
    span = daily.groupBy("user_id").agg(F.min("k").alias("k0"),
                                        F.max("k").alias("k1"))
    spine = span.select(
        "user_id", F.explode(F.sequence("k0", "k1")).alias("k"))
    g = spine.join(daily, ["user_id", "k"], "left")
    wb = (Window.partitionBy("user_id").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("user_id").orderBy("k")
          .rowsBetween(0, Window.unboundedFollowing))
    obs_k = F.when(F.col("v").isNotNull(), F.col("k"))
    filled = g.select(
        "user_id", "k", "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_k, ignorenulls=True).over(wb).alias("pk"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_k, ignorenulls=True).over(wf).alias("nk"))
    interp = F.floor(
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double")
        * (F.col("k") - F.col("pk")).cast("double")
        / (F.col("nk") - F.col("pk")).cast("double")).cast("bigint")
    return (filled.select(
        "k",
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp)
        .alias("val"))
        .groupBy("k")
        .agg(F.sum(F.col("observed").cast("bigint")).alias("n_observed"),
             F.sum((~F.col("observed")).cast("bigint")).alias("n_interp"),
             F.sum(F.when(F.col("observed"), F.col("val")))
             .alias("sum_obs_c"),
             F.sum(F.when(~F.col("observed"), F.col("val")))
             .alias("sum_interp_c")))


ORACLE_INTERPOLATE = """
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS k,
         sum(CAST(round(value * 100) AS BIGINT)) AS v
  FROM events WHERE event_type = 'view'
  GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(k) AS k0, max(k) AS k1 FROM daily GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(k0, k1)) AS k FROM span
),
g AS (
  SELECT s.user_id, s.k, d.v
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.k = d.k
),
filled AS (
  SELECT user_id, k, v,
         last_value(v IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN k END IGNORE NULLS)
           OVER wb AS pk,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN k END IGNORE NULLS)
           OVER wf AS nk
  FROM g
  WINDOW wb AS (PARTITION BY user_id ORDER BY k
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY k
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT k,
       CAST(sum(CAST(v IS NOT NULL AS BIGINT)) AS BIGINT) AS n_observed,
       CAST(sum(CAST(v IS NULL AS BIGINT)) AS BIGINT) AS n_interp,
       CAST(sum(CASE WHEN v IS NOT NULL THEN v END) AS BIGINT)
         AS sum_obs_c,
       CAST(sum(CASE WHEN v IS NULL THEN
             CAST(floor(CAST(pv AS DOUBLE)
                        + CAST(nv - pv AS DOUBLE) * CAST(k - pk AS DOUBLE)
                          / CAST(nk - pk AS DOUBLE)) AS BIGINT)
           END) AS BIGINT) AS sum_interp_c
FROM filled GROUP BY k
"""


QUERIES_EXT7.update({
    "pit_join": q_pit_join,
    "record_linkage": q_record_linkage,
    "k_anonymity": q_k_anonymity,
    "trend_regression": q_trend_regression,
    "interpolate_linear": q_interpolate_linear,
})

ORACLE_EXT7.update({
    "pit_join": ORACLE_PIT,
    "record_linkage": ORACLE_RECORD_LINKAGE,
    "k_anonymity": ORACLE_K_ANONYMITY,
    "trend_regression": ORACLE_TREND,
    "interpolate_linear": ORACLE_INTERPOLATE,
})


# ---------------------------------------------------------------------------
# merkle_diff — bucket-fingerprint table diff (dirty buckets only)
# ---------------------------------------------------------------------------

_MD_BUCKET = 256       # keys per "file" (key div 256 = file id)
_MD_STRIDE = 4         # 1 file in 4 carries each mutation class


def q_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot diff: both table versions reduce to one
    order-independent fingerprint per key-range bucket (sum of 40-bit
    row hashes — exact in int64); row-level diffing then runs ONLY
    inside buckets whose fingerprints disagree. At 100 TB this is the
    difference between comparing ~1e5 bucket rows and full-outer-joining
    two 100 TB tables: the fingerprint pass is a map-side-combinable
    aggregate per version, the dirty-bucket list is tiny and BROADCAST
    into both row scans as a semi-join (partition pruning when the
    table is key-range partitioned, which div-bucketing models).

    v2 is a deterministic simulated next snapshot: every 4th bucket
    gets deletions (key%97==0), another stripe gets price updates
    (key%89==0), a third gets inserted rows (new keys past the key
    space). Row hash covers all columns via md5 over an exact integer
    rendering (cents, never float strings — float->string formatting
    is engine-specific).

    Output: per dirty bucket, adds/removes/changes — clean buckets
    never reach the row diff. The diff engine itself is the reusable
    operators.merkle.bucket_diff (property-tested against exact pandas
    set differences over arbitrary mutation patterns).
    """
    from ..operators.merkle import bucket_diff
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    bucket = F.expr(f"key div {_MD_BUCKET}")
    stripe = bucket % _MD_STRIDE
    v1 = o
    v2 = (o.filter(~((stripe == 0) & (F.col("key") % 97 == 0)))
          .select("key", "status", "prio",
                  F.when((stripe == 1) & (F.col("key") % 89 == 0),
                         F.col("cents") + 12345)
                  .otherwise(F.col("cents")).alias("cents"))
          .unionByName(
              o.filter((stripe == 2) & (F.col("key") % 101 == 0))
              .select((F.col("key") + 134217728).alias("key"),
                      "status", "prio",
                      (F.col("cents") + 1).alias("cents"))))
    return bucket_diff(v1, v2, key="key",
                       hash_cols=["key", "status", "prio", "cents"],
                       bucket_width=_MD_BUCKET)


ORACLE_MERKLE = f"""
WITH o AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v2 AS (
  SELECT key, status, prio,
         CASE WHEN (key // {_MD_BUCKET}) % {_MD_STRIDE} = 1
                   AND key % 89 = 0
              THEN cents + 12345 ELSE cents END AS cents
  FROM o
  WHERE NOT ((key // {_MD_BUCKET}) % {_MD_STRIDE} = 0 AND key % 97 = 0)
  UNION ALL
  SELECT key + 134217728, status, prio, cents + 1
  FROM o
  WHERE (key // {_MD_BUCKET}) % {_MD_STRIDE} = 2 AND key % 101 = 0
),
h1 AS (
  SELECT key, key // {_MD_BUCKET} AS b,
         CAST(concat('0x', substr(md5(
                concat(coalesce(md5(CAST(key AS VARCHAR)), 'null'),
                       coalesce(md5(status), 'null'),
                       coalesce(md5(prio), 'null'),
                       coalesce(md5(CAST(cents AS VARCHAR)), 'null'))),
              1, 10)) AS BIGINT) AS h
  FROM o
),
h2 AS (
  SELECT key, key // {_MD_BUCKET} AS b,
         CAST(concat('0x', substr(md5(
                concat(coalesce(md5(CAST(key AS VARCHAR)), 'null'),
                       coalesce(md5(status), 'null'),
                       coalesce(md5(prio), 'null'),
                       coalesce(md5(CAST(cents AS VARCHAR)), 'null'))),
              1, 10)) AS BIGINT) AS h
  FROM v2
),
fp1 AS (SELECT b, sum(h) AS fp, count(*) AS n FROM h1 GROUP BY b),
fp2 AS (SELECT b, sum(h) AS fp, count(*) AS n FROM h2 GROUP BY b),
dirty AS (
  SELECT coalesce(fp1.b, fp2.b) AS b
  FROM fp1 FULL OUTER JOIN fp2 ON fp1.b = fp2.b
  WHERE fp1.fp IS NULL OR fp2.fp IS NULL OR fp1.fp <> fp2.fp
     OR fp1.n <> fp2.n
),
d1 AS (SELECT h1.* FROM h1 JOIN dirty USING (b)),
d2 AS (SELECT h2.* FROM h2 JOIN dirty USING (b))
SELECT coalesce(d1.b, d2.b) AS bucket,
       CAST(sum(CAST(d1.h IS NULL AS BIGINT)) AS BIGINT) AS n_added,
       CAST(sum(CAST(d2.h IS NULL AS BIGINT)) AS BIGINT) AS n_removed,
       CAST(sum(CAST(d1.h IS NOT NULL AND d2.h IS NOT NULL
                     AND d1.h <> d2.h AS BIGINT)) AS BIGINT) AS n_changed
FROM d1 FULL OUTER JOIN d2 ON d1.b = d2.b AND d1.key = d2.key
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# zone_map_prune — min/max file pruning across physical layouts
# ---------------------------------------------------------------------------

_ZM_THRESHOLDS = (20000000, 40000000, 50000000)   # cents
_ZM_BAND = 1000000                                # value-layout file width


def q_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning simulation: orders are laid out as 'files'
    under two physical clusterings — time-clustered (by order month,
    how the data arrives) and value-clustered (fixed price bands, what
    a z-order/sort rewrite would produce) — and each file keeps a
    (min,max) zone map on the filter column. For each price predicate
    the report counts files whose zone map proves emptiness
    (max <= threshold -> skipped without reading a byte).

    This quantifies the engine-design point that pruning power comes
    from LAYOUT, not from the zone maps themselves: time-clustered
    files all straddle the full price range (scan_frac ~ 1.0), while
    value-clustered files prune to the selectivity of the predicate.
    One scan: rows are exploded over the 3 thresholds BEFORE the
    per-file aggregate (map-side combinable into files x thresholds
    groups); no join, no second pass. Zone-map metadata is
    files x layouts rows — driver-trivial at any corpus size, which is
    exactly why real formats (Parquet row groups, Iceberg manifests)
    keep them.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .alias("m"))
    rows = o.select(
        "cents",
        F.explode(F.array(
            F.struct(F.lit("time").alias("layout"),
                     F.col("m").cast("bigint").alias("file_id")),
            F.struct(F.lit("value").alias("layout"),
                     F.expr(f"cents div {_ZM_BAND}")
                     .alias("file_id")))).alias("f"))
    thr = F.explode(F.array(*[F.lit(t) for t in _ZM_THRESHOLDS])).alias("thr")
    per_file = (rows.select("cents", F.col("f.layout").alias("layout"),
                            F.col("f.file_id").alias("file_id"), thr)
                .groupBy("layout", "file_id", "thr")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.max("cents").alias("max_c"),
                     F.sum((F.col("cents") > F.col("thr")).cast("bigint"))
                     .alias("n_match")))
    return (per_file.groupBy("layout", "thr")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum((F.col("max_c") <= F.col("thr")).cast("bigint"))
                 .alias("n_pruned"),
                 F.sum(F.when(F.col("max_c") > F.col("thr"), F.col("cnt"))
                       .otherwise(F.lit(0))).alias("rows_scanned"),
                 F.sum("n_match").alias("rows_matched"),
                 F.sum("cnt").alias("n_rows"))
            .select("layout", "thr", "n_files", "n_pruned", "rows_scanned",
                    "rows_matched",
                    F.expr("CAST(CAST(rows_scanned AS DECIMAL(38,0))"
                           " * 1000000 div n_rows AS BIGINT)")
                    .alias("scan_frac_e6")))


ORACLE_ZONE_MAP = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m
  FROM orders
),
rows_l AS (
  SELECT cents, 'time' AS layout, CAST(m AS BIGINT) AS file_id FROM o
  UNION ALL
  SELECT cents, 'value' AS layout, cents // {_ZM_BAND} AS file_id FROM o
),
per_file AS (
  SELECT layout, file_id, thr, count(*) AS cnt, max(cents) AS max_c,
         sum(CAST(cents > thr AS BIGINT)) AS n_match
  FROM rows_l
  CROSS JOIN (SELECT unnest({list(_ZM_THRESHOLDS)}) AS thr)
  GROUP BY 1, 2, 3
)
SELECT layout, thr, count(*) AS n_files,
       CAST(sum(CAST(max_c <= thr AS BIGINT)) AS BIGINT) AS n_pruned,
       CAST(sum(CASE WHEN max_c > thr THEN cnt ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       CAST((sum(CASE WHEN max_c > thr THEN cnt ELSE 0 END) * 1000000)
            // sum(cnt) AS BIGINT) AS scan_frac_e6
FROM per_file GROUP BY 1, 2
"""


QUERIES_EXT7.update({
    "merkle_diff": q_merkle_diff,
    "zone_map_prune": q_zone_map_prune,
})

ORACLE_EXT7.update({
    "merkle_diff": ORACLE_MERKLE,
    "zone_map_prune": ORACLE_ZONE_MAP,
})


# ---------------------------------------------------------------------------
# hll_union_report — mergeable HLL sketches: per-region + register-max union
# ---------------------------------------------------------------------------


def q_hll_union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active customers per region estimated with the ext6 HLL
    sketch, PLUS a global row whose registers are the MAX-merge of the
    per-region registers — the mergeability property that makes
    sketches the right distinct-count tool on a 1000-executor cluster:
    partial sketches combine losslessly (register-wise max), so the
    union estimate costs (regions x 256) rows, never a re-scan.

    Same hash/registers/correction as hll_distinct
    (queries_ext6.q_hll_distinct — see its exactness proof); this query
    adds the merge layer and verifies the merged estimate against the
    exact global distinct. Custkeys are region-disjoint here, so union
    cardinality equals the sum — the sketch union must land on the
    same estimate it would have computed over the raw union, which the
    oracle checks register-for-register.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    keys = (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .select(F.col("r_name").alias("scope"), "o_custkey")
            .distinct())
    h = F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12),
               16, 10).cast("bigint")
    hashed = keys.select("scope", h.alias("h"))
    reg = F.expr(f"h div {_HLL_RHO_SPACE}")
    v = F.col("h") % _HLL_RHO_SPACE
    rho = F.when(v == 0, F.lit(41)).otherwise(F.lit(41) - F.length(F.bin(v)))
    regs = (hashed.select("scope", reg.alias("reg"), rho.alias("rho"))
            .groupBy("scope", "reg").agg(F.max("rho").alias("m")))
    merged = (regs.groupBy("reg").agg(F.max("m").alias("m"))
              .select(F.lit("ALL").alias("scope"), "reg", "m"))
    all_regs = regs.unionByName(merged)
    per = (all_regs.groupBy("scope")
           .agg(F.count(F.lit(1)).alias("n_regs"),
                F.sum(F.expr(
                    "shiftleft(CAST(1 AS BIGINT), 41 - CAST(m AS INT))"))
                .alias("present_sum")))
    exact = (keys.select(F.lit("ALL").alias("scope"), "o_custkey")
             .unionByName(keys)
             .groupBy("scope")
             .agg(F.countDistinct("o_custkey").alias("n_exact")))
    sum_scaled = (F.col("present_sum")
                  + (F.lit(_HLL_M) - F.col("n_regs")) * F.lit(2199023255552))
    raw = (F.lit(0.718273) * F.lit(65536.0) * F.lit(2199023255552.0)
           / sum_scaled.cast("double"))
    n_zero = F.lit(_HLL_M) - F.col("n_regs")
    est = F.when((raw <= F.lit(2.5 * _HLL_M)) & (n_zero > 0),
                 F.floor(F.lit(float(_HLL_M))
                         * F.log(F.lit(float(_HLL_M))
                                 / n_zero.cast("double")))) \
        .otherwise(F.floor(raw)).cast("bigint")
    return (per.join(exact, "scope")
            .select("scope", est.alias("hll_est"), "n_exact",
                    n_zero.cast("bigint").alias("n_zero_regs")))


ORACLE_HLL_UNION = f"""
WITH keys AS (
  SELECT DISTINCT r_name AS scope, o_custkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
hashed AS (
  SELECT scope,
         CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM keys
),
regs AS (
  SELECT scope, h // {_HLL_RHO_SPACE} AS reg,
         max(CASE WHEN h % {_HLL_RHO_SPACE} = 0 THEN 41
                  ELSE 41 - length(bin(h % {_HLL_RHO_SPACE})) END) AS m
  FROM hashed GROUP BY scope, h // {_HLL_RHO_SPACE}
),
all_regs AS (
  SELECT scope, reg, m FROM regs
  UNION ALL
  SELECT 'ALL' AS scope, reg, max(m) AS m FROM regs GROUP BY reg
),
per AS (
  SELECT scope, count(*) AS n_regs,
         sum(CAST(2 AS BIGINT) ** (41 - m)) AS present_sum
  FROM all_regs GROUP BY scope
),
exact AS (
  SELECT scope, count(DISTINCT o_custkey) AS n_exact FROM keys GROUP BY scope
  UNION ALL
  SELECT 'ALL', count(DISTINCT o_custkey) FROM keys
),
raws AS (
  SELECT scope, n_regs,
         CAST(0.718273 AS DOUBLE) * 65536 * 2199023255552
         / CAST(present_sum
                + ({_HLL_M} - n_regs) * CAST(2199023255552 AS BIGINT)
                AS DOUBLE) AS raw
  FROM per
)
SELECT r.scope,
       CAST(CASE WHEN r.raw <= {2.5 * _HLL_M} AND r.n_regs < {_HLL_M}
                 THEN floor(CAST({_HLL_M} AS DOUBLE)
                            * ln(CAST({_HLL_M} AS DOUBLE)
                                 / CAST({_HLL_M} - r.n_regs AS DOUBLE)))
                 ELSE floor(r.raw) END AS BIGINT) AS hll_est,
       e.n_exact,
       {_HLL_M} - r.n_regs AS n_zero_regs
FROM raws r JOIN exact e USING (scope)
"""


# ---------------------------------------------------------------------------
# graph_clustering_coeff — local clustering coefficient histogram
# ---------------------------------------------------------------------------

_CC_TOPK = 2000          # hub-core size: bounds wedge volume at K^2


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the HUB CORE of the part
    co-purchase graph (parts are adjacent when some order contains
    both): the top-K highest-degree parts induce a subgraph, and each
    core node reports 2*triangles / (deg*(deg-1)) within it, as a
    percent-bin histogram — the standard local-density profile for
    community/anomaly analysis, scoped the way co-purchase analyses
    run it (the hub core is where density signal lives; the full
    graph's coefficient is collision noise at any scale).

    Scale shape: the full co-purchase graph grows its average degree
    with corpus size (1.2M edges at sf0.1), so exact all-node triangle
    counting is an O(m^1.5) wedge join that measured 13.7s — the
    hub-core restriction caps the wedge volume at K^2 REGARDLESS of
    corpus size: top-K is a distributed TakeOrdered on (deg desc, id)
    (no global window), the K-id set broadcasts into two semi-joins
    that induce the subgraph, and degrees/orientation/triangles are
    recomputed within it (degree orientation exactly like
    graph_triangles, all three corner projections kept so each
    triangle credits u, v AND w). Coefficients are exact integer
    arithmetic (coeff_e6 = 2e6*tri div ideg(ideg-1)).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pb"))
    # both the hub ranking and the induced-subgraph semi-joins consume
    # the distinct edge set: materialize it once (1.2M narrow rows at
    # sf0.1) or the self-join + distinct executes twice. DISK_ONLY:
    # the |E|-scale cache on the default deserialized level OOM'd the
    # 16g local harness at the r10 100x probe (~120M edges); written
    # once, re-read sequentially, page-cache-hot.
    from pyspark import StorageLevel
    edges_all = (a.join(b, "o")
                 .filter(F.col("pa") < F.col("pb"))
                 .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
                 .distinct().localCheckpoint(
                     storageLevel=StorageLevel.DISK_ONLY))
    nodes_all = (edges_all.select(F.col("u").alias("id"))
                 .unionAll(edges_all.select(F.col("v").alias("id"))))
    deg_all = nodes_all.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    top = (deg_all.orderBy(F.col("deg").desc(), "id").limit(_CC_TOPK)
           .select("id"))
    edges = (edges_all
             .join(F.broadcast(top.select(F.col("id").alias("u"))),
                   "u", "semi")
             .join(F.broadcast(top.select(F.col("id").alias("v"))),
                   "v", "semi")
             .select("u", "v"))
    nodes = (edges.select(F.col("u").alias("id"))
             .unionAll(edges.select(F.col("v").alias("id"))))
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    # Orientation order is the two-column lexicographic (deg, id) —
    # never a packed deg*2^k+id key, whose total order silently breaks
    # once ids overflow the shift (round-7 ADVICE).
    ed = (edges.join(deg.select(F.col("id").alias("u"),
                                F.col("deg").alias("du")), "u")
          .join(deg.select(F.col("id").alias("v"),
                           F.col("deg").alias("dv")), "v"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).localCheckpoint()  # K^2-capped hub core: small, default level fine
    e1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"),
                  F.col("ddst").alias("dy"))
    e2 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"),
                  F.col("ddst").alias("dz"))
    wedges = (e1.join(e2, "x")
              .filter((F.col("dy") < F.col("dz")) | (
                  (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))))
    closing = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = wedges.join(closing, ["y", "z"]).select("x", "y", "z")
    corner = (tri.select(F.col("x").alias("id"))
              .unionAll(tri.select(F.col("y").alias("id")))
              .unionAll(tri.select(F.col("z").alias("id"))))
    tcnt = corner.groupBy("id").agg(F.count(F.lit(1)).alias("tri"))
    per_node = (deg.filter(F.col("deg") >= 2)
                .join(tcnt, "id", "left")
                .select("id", "deg",
                        F.coalesce(F.col("tri"), F.lit(0)).alias("tri")))
    coeff = F.expr("tri * 2000000 div (deg * (deg - 1)) div 10000")
    return (per_node.select(coeff.alias("pct"))
            .groupBy("pct").agg(F.count(F.lit(1)).alias("n_nodes")))


ORACLE_CLUSTERING = f"""
WITH edges_all AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
nodes_all AS (
  SELECT u AS id FROM edges_all UNION ALL SELECT v FROM edges_all
),
deg_all AS (SELECT id, count(*) AS deg FROM nodes_all GROUP BY id),
top AS (
  SELECT id FROM deg_all ORDER BY deg DESC, id LIMIT {_CC_TOPK}
),
edges AS (
  SELECT u, v FROM edges_all
  WHERE u IN (SELECT id FROM top) AND v IN (SELECT id FROM top)
),
nodes AS (
  SELECT u AS id FROM edges UNION ALL SELECT v FROM edges
),
deg AS (SELECT id, count(*) AS deg FROM nodes GROUP BY id),
o AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN dv.deg ELSE du.deg END AS ddst
  FROM edges e
  JOIN deg du ON e.u = du.id
  JOIN deg dv ON e.v = dv.id
),
tri AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM o e1
  JOIN o e2 ON e1.src = e2.src
           AND (e1.ddst < e2.ddst
                OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
  JOIN o c ON c.src = e1.dst AND c.dst = e2.dst
),
corner AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
tcnt AS (SELECT id, count(*) AS tri FROM corner GROUP BY id),
per_node AS (
  SELECT d.id, d.deg, coalesce(t.tri, 0) AS tri
  FROM deg d LEFT JOIN tcnt t ON d.id = t.id
  WHERE d.deg >= 2
)
SELECT (tri * 2000000 // (deg * (deg - 1))) // 10000 AS pct,
       count(*) AS n_nodes
FROM per_node GROUP BY 1
"""


# ---------------------------------------------------------------------------
# bpe_pair_stats — byte-pair-encoding merge statistics
# ---------------------------------------------------------------------------

_BPE_HEAD = 120
_BPE_TOPK = 10


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First two rounds of byte-pair-encoding tokenizer training over
    the corpus: count adjacent symbol pairs, apply the most frequent
    pair as a merge (left-to-right non-overlapping replace — identical
    greedy semantics on both engines), and recount — the statistics
    loop every BPE/WordPiece trainer runs, expressed as pure column
    plans.

    Scale shape: per-doc cost is bounded by the 120-char head (pair
    extraction is a codegen transform+explode, no Python); each round
    is one map-side-combinable count whose shuffle carries |distinct
    pairs| (~1k) rows, and the winning merge is a 1-ROW broadcast
    crossed onto the corpus (the bm25 corpus-stats shape) — the
    iterative driver loop a real trainer adds just repeats this round
    with the merge table re-broadcast; state never exceeds the vocab.
    The head corpus is localCheckpointed so round 2 does not re-scan
    parquet.

    '@' stands in for the merged-symbol id (verified absent from the
    corpus); 10-deep per round, ties broken (count desc, pair asc).
    """
    d = _t(spark, sf_dir, "documents")
    base = (d.filter(F.length("text") >= 2)
            .select(F.lower(F.substring("text", 1, _BPE_HEAD))
                    .alias("head"))
            .localCheckpoint())
    pairs1 = base.select(F.explode(F.expr(
        "transform(sequence(1, length(head) - 1),"
        " i -> substring(head, i, 2))")).alias("pair"))
    c1 = pairs1.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top1 = (c1.orderBy(F.col("n").desc(), "pair").limit(1)
            .select(F.col("pair").alias("merge_pair")))
    merged = (base.crossJoin(F.broadcast(top1))
              .select(F.expr("replace(head, merge_pair, '@')")
                      .alias("head")))
    pairs2 = merged.filter(F.length("head") >= 2).select(
        F.explode(F.expr(
            "transform(sequence(1, length(head) - 1),"
            " i -> substring(head, i, 2))")).alias("pair"))
    c2 = pairs2.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    lim1 = (c1.orderBy(F.col("n").desc(), "pair").limit(_BPE_TOPK)
            .select(F.lit(1).alias("iter"), "pair", "n"))
    lim2 = (c2.orderBy(F.col("n").desc(), "pair").limit(_BPE_TOPK)
            .select(F.lit(2).alias("iter"), "pair", "n"))
    return lim1.unionByName(lim2)


ORACLE_BPE = f"""
WITH d AS (
  SELECT lower(substr(text, 1, {_BPE_HEAD})) AS head
  FROM documents WHERE length(text) >= 2
),
p1 AS (
  SELECT unnest(list_transform(generate_series(1, length(head) - 1),
                               i -> substr(head, i, 2))) AS pair
  FROM d
),
c1 AS (SELECT pair, count(*) AS n FROM p1 GROUP BY pair),
top1 AS (SELECT pair FROM c1 ORDER BY n DESC, pair LIMIT 1),
d2 AS (
  SELECT replace(head, (SELECT pair FROM top1), '@') AS head FROM d
),
p2 AS (
  SELECT unnest(list_transform(generate_series(1, length(head) - 1),
                               i -> substr(head, i, 2))) AS pair
  FROM d2 WHERE length(head) >= 2
),
c2 AS (SELECT pair, count(*) AS n FROM p2 GROUP BY pair)
SELECT 1 AS iter, pair, n
FROM (SELECT pair, n FROM c1 ORDER BY n DESC, pair LIMIT {_BPE_TOPK})
UNION ALL
SELECT 2 AS iter, pair, n
FROM (SELECT pair, n FROM c2 ORDER BY n DESC, pair LIMIT {_BPE_TOPK})
"""


QUERIES_EXT7.update({
    "hll_union_report": q_hll_union_report,
    "graph_clustering_coeff": q_graph_clustering_coeff,
    "bpe_pair_stats": q_bpe_pair_stats,
})

ORACLE_EXT7.update({
    "hll_union_report": ORACLE_HLL_UNION,
    "graph_clustering_coeff": ORACLE_CLUSTERING,
    "bpe_pair_stats": ORACLE_BPE,
})


# ---------------------------------------------------------------------------
# histogram_quantile — mergeable fixed-bin quantile sketch
# ---------------------------------------------------------------------------

_HQ_BINS = 256
_HQ_PCTS = (50, 90, 99)


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a 256-bin equal-width histogram — the
    MERGEABLE quantile sketch: bin counts are plain sums, so partial
    histograms from 1000 executors (or 1000 days of partitions) combine
    by addition, unlike an exact percentile which needs a global sort.
    exact_percentile_rank / percentile_report are the exact
    counterparts; this is what you keep as rolling state.

    Plan: pass 1 is a 1-row (min, max) aggregate, broadcast; pass 2
    bins every row (map-side combinable into <= 256 groups); the
    cumulative walk is a window over the 256-row histogram (driver
    trivial at any corpus size). All integer arithmetic — bin =
    (c - min) * 256 div (max - min + 1), estimate = the bin's lower
    edge; the estimate's error bound is one bin width, reported
    alongside.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"))
    bounds = o.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    binned = (o.crossJoin(F.broadcast(bounds))
              .select(F.expr(
                  f"(c - lo) * {_HQ_BINS} div (hi - lo + 1)").alias("bin"),
                  "lo", "hi")
              .groupBy("bin", "lo", "hi")
              .agg(F.count(F.lit(1)).alias("n_bin")))
    w = (Window.orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = binned.select(
        "bin", "lo", "hi", "n_bin",
        F.sum("n_bin").over(w).alias("cum"),
        F.sum("n_bin").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding,
                Window.unboundedFollowing)).alias("n"))
    pcts = F.explode(F.array(*[F.lit(p) for p in _HQ_PCTS])).alias("p")
    hit = (cum.select("*", pcts)
           .filter((F.col("cum") * 100 >= F.col("n") * F.col("p"))
                   & ((F.col("cum") - F.col("n_bin")) * 100
                      < F.col("n") * F.col("p"))))
    return hit.select(
        "p", "bin",
        F.expr(f"lo + bin * (hi - lo + 1) div {_HQ_BINS}").alias("est_c"),
        F.expr(f"(hi - lo + 1) div {_HQ_BINS} + 1").alias("bin_width_c"),
        "n_bin",
        F.expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000"
               " div n AS BIGINT)").alias("cum_frac_e6"))


ORACLE_HISTOGRAM_QUANTILE = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
bounds AS (SELECT min(c) AS lo, max(c) AS hi FROM o),
binned AS (
  SELECT (c - lo) * {_HQ_BINS} // (hi - lo + 1) AS bin, lo, hi,
         count(*) AS n_bin
  FROM o CROSS JOIN bounds GROUP BY 1, 2, 3
),
cum AS (
  SELECT bin, lo, hi, n_bin,
         sum(n_bin) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(n_bin) OVER () AS n
  FROM binned
)
SELECT p, bin,
       lo + bin * (hi - lo + 1) // {_HQ_BINS} AS est_c,
       (hi - lo + 1) // {_HQ_BINS} + 1 AS bin_width_c,
       n_bin,
       CAST(cum * 1000000 // n AS BIGINT) AS cum_frac_e6
FROM cum CROSS JOIN (SELECT unnest({list(_HQ_PCTS)}) AS p)
WHERE cum * 100 >= n * p AND (cum - n_bin) * 100 < n * p
"""


# ---------------------------------------------------------------------------
# sorted_neighborhood — window-based linkage candidate generation
# ---------------------------------------------------------------------------

_SN_WINDOW = 3      # successors compared per record
_SN_CLOSE = 3       # levenshtein threshold for "close" pairs


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage pass over parts: records sort by
    name within each brand and every record is compared to its next 3
    neighbors in sort order — the SECOND blocking scheme production
    linkage unions with key blocking (record_linkage): sorted
    neighborhoods catch near-misses that land in different equality
    blocks but adjacent sort positions.

    Plan shape: NO pair join at all — the neighborhood is three LEAD
    window columns over one (brand)-partitioned sort, then an unpivot;
    candidate volume is exactly w*n regardless of block-size skew (the
    property key blocking lacks), and the comparison (JVM levenshtein)
    runs map-side after the single window sort. At 100 TB the sort key
    range-partitions; no block can go quadratic BY CONSTRUCTION.

    Output: per brand, candidate count and close-pair count (edit
    distance <= 3) — the scheme-quality summary blocking_quality
    consumes.
    """
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    w = Window.partitionBy("p_brand").orderBy("p_name", "p_partkey")
    with_next = p.select(
        "p_brand", "p_name",
        *[F.lead("p_name", i).over(w).alias(f"nx{i}")
          for i in range(1, _SN_WINDOW + 1)])
    cand = with_next.select(
        "p_brand",
        F.explode(F.array(*[F.col(f"nx{i}")
                            for i in range(1, _SN_WINDOW + 1)]))
        .alias("other"), "p_name").filter(F.col("other").isNotNull())
    return (cand.select(
        "p_brand",
        F.levenshtein("p_name", "other").alias("d"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_candidates"),
             F.sum((F.col("d") <= _SN_CLOSE).cast("bigint"))
             .alias("n_close"),
             F.min("d").alias("min_d")))


ORACLE_SORTED_NEIGHBORHOOD = f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_name,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_name, p_partkey) AS rn
  FROM part
),
cand AS (
  SELECT a.p_brand, a.p_name, b.p_name AS other
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand
   AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SN_WINDOW}
)
SELECT p_brand, count(*) AS n_candidates,
       CAST(sum(CAST(levenshtein(p_name, other) <= {_SN_CLOSE} AS BIGINT))
            AS BIGINT) AS n_close,
       min(levenshtein(p_name, other)) AS min_d
FROM cand GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# label_prop_communities — synchronous label propagation (3 rounds)
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the near-dup candidate graph (LSH pair
    edges) by synchronous label propagation: every node adopts the
    (most frequent, then smallest) label among its neighbors each
    round, 3 fixed rounds — the cheap community/cluster pass between
    connected components (too coarse: one label per component) and
    modularity methods (not oracle-expressible).

    Deterministic by construction: the argmax is a total order
    (count desc, label asc) and rounds are synchronous, so the
    trajectory is engine-independent — the oracle replays the same 3
    rounds as unrolled CTEs. Each round is one superstep: neighbor
    labels broadcast-joined onto the edge list and folded per node by
    mode(deterministic=True), which is exactly that argmax (the most
    frequent label, ties to the smallest) in one combinable aggregate.
    Fixed rounds (not convergence) keep the plan finite; real
    deployments iterate the same round body.

    Output: community-size histogram (size -> how many communities).
    """
    from ..graph.analytics import superstep, symmetrize
    from .queries import q_dedup_lsh_pairs
    labels = superstep(
        symmetrize(q_dedup_lsh_pairs(spark, sf_dir), "id_a", "id_b"),
        lambda ed: (ed.select(F.col("src").alias("id")).distinct()
                    .select("id", F.col("id").alias("lbl"))),
        ["id"], F.col("lbl"), lambda m: F.mode(m, deterministic=True),
        lambda state, msgs: msgs.select("id", F.col("msg").alias("lbl")),
        _LP_ROUNDS)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("sz"))
    return (sizes.groupBy("sz")
            .agg(F.count(F.lit(1)).alias("n_communities"))
            .withColumnRenamed("sz", "community_size"))


def _oracle_label_prop() -> str:
    from .queries import ORACLE_LSH
    rounds = []
    prev = "labels0"
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
cnt{r} AS (
  SELECT ed.u AS id, l.lbl, count(*) AS c
  FROM edges ed JOIN {prev} l ON ed.v = l.id
  GROUP BY 1, 2
),
labels{r} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
    FROM cnt{r})
  WHERE rn = 1
)""")
        prev = f"labels{r}"
    return f"""
WITH e AS ({ORACLE_LSH}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM e
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM e
),
labels0 AS (
  SELECT DISTINCT u AS id, u AS lbl FROM edges
),{','.join(rounds)}
SELECT sz AS community_size, count(*) AS n_communities
FROM (SELECT lbl, count(*) AS sz FROM labels{_LP_ROUNDS} GROUP BY lbl)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# interval_overlap_join — banded interval x interval overlap
# ---------------------------------------------------------------------------

_IO_BAND_US = 1_800_000_000          # 30-min responsibility bands
_IO_BUCKET_US = 600_000_000          # 10-min burst buckets
_IO_BURST_MIN = 3                    # errors per bucket -> burst window
_IO_GAP_US = 1_800_000_000           # session gap (30 min)


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join with NO shared key: user
    sessions (gap-30-min sessionization) against global error-burst
    windows (10-min buckets holding >= 3 error events) — "which
    sessions ran during an incident", the ops/observability join.

    Scale shape: range_banded_join handles point-in-interval; this is
    the two-sided case. BOTH interval sets explode into covering
    30-min bands and meet in a band equi-join (never a cartesian);
    each genuinely-overlapping pair is counted EXACTLY ONCE by the
    responsibility rule — only the band containing max(start_a,
    start_b) (the first band where both are live) emits the pair. Band
    width trades fan-out (long intervals explode into more bands)
    against band population; sessions and bursts are both
    duration-bounded here so fan-out is <= a few bands per interval.

    All arithmetic is exact int64 micros. Output: per burst window,
    overlapping-session count and total overlapped microseconds.
    """
    e = _t(spark, sf_dir, "events")
    # ts_ns div 1000, never /1000: float division rounds above 2^53
    ev = e.select("user_id", "event_type",
                  F.expr("ts_ns div 1000").alias("us"))
    # sessions: gap-based per user (the sessionize_events rule)
    wu = Window.partitionBy("user_id").orderBy("us")
    sess = (ev.select(
        "user_id", "us",
        F.when(F.col("us") - F.lag("us").over(wu) > _IO_GAP_US, 1)
        .otherwise(0).alias("brk"))
        .select("user_id", "us",
                F.sum("brk").over(
                    wu.rowsBetween(Window.unboundedPreceding, 0))
                .alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end")))
    # burst windows: 10-min buckets with >= 3 error events
    bursts = (ev.filter(F.col("event_type") == "error")
              .select(F.expr(f"us div {_IO_BUCKET_US}").alias("bkt"))
              .groupBy("bkt").agg(F.count(F.lit(1)).alias("n_err"))
              .filter(F.col("n_err") >= _IO_BURST_MIN)
              .select((F.col("bkt") * _IO_BUCKET_US).alias("w_start"),
                      ((F.col("bkt") + 1) * _IO_BUCKET_US - 1)
                      .alias("w_end"), "n_err"))

    def banded(df, s, t):
        return df.select(
            "*", F.explode(F.sequence(
                F.expr(f"{s} div {_IO_BAND_US}"),
                F.expr(f"{t} div {_IO_BAND_US}"))).alias("band"))

    sb = banded(sess, "s_start", "s_end")
    wb = banded(bursts, "w_start", "w_end")
    pairs = (sb.join(wb, "band")
             .filter((F.col("s_start") <= F.col("w_end"))
                     & (F.col("w_start") <= F.col("s_end"))
                     & (F.col("band") == F.expr(
                         f"greatest(s_start, w_start) div {_IO_BAND_US}"))))
    return (pairs.groupBy("w_start", "n_err")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.expr("least(s_end, w_end)"
                              " - greatest(s_start, w_start) + 1"))
                 .alias("overlap_us")))


ORACLE_INTERVAL_OVERLAP = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
),
marked AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {_IO_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
  FROM (SELECT user_id, us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
        FROM marked)
  GROUP BY user_id, sid
),
bursts AS (
  SELECT bkt * {_IO_BUCKET_US} AS w_start,
         (bkt + 1) * {_IO_BUCKET_US} - 1 AS w_end,
         count(*) AS n_err
  FROM (SELECT us // {_IO_BUCKET_US} AS bkt FROM ev
        WHERE event_type = 'error')
  GROUP BY bkt HAVING count(*) >= {_IO_BURST_MIN}
)
SELECT w_start, n_err, count(*) AS n_sessions,
       CAST(sum(least(s_end, w_end) - greatest(s_start, w_start) + 1)
            AS BIGINT) AS overlap_us
FROM sess JOIN bursts
  ON s_start <= w_end AND w_start <= s_end
GROUP BY w_start, n_err
"""


# ---------------------------------------------------------------------------
# oov_rate — tokenizer vocabulary coverage on held-out data
# ---------------------------------------------------------------------------

_OOV_VOCAB = 5000
_OOV_SPLIT_MOD = 100    # md5-derived split (train_split_report scheme)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit: build a top-5000 token vocabulary from
    the train split (deterministic md5 80% split — the
    train_split_report scheme) and measure per-source OOV token rates
    on the 10% validation split — the coverage check every tokenizer /
    vocab freeze runs before training.

    Plan: the vocab is one grouped count + distributed TakeOrdered
    (count desc, token asc — total order, tie-proof), then BROADCAST
    into a LEFT ANTI-style membership join against the exploded eval
    tokens; eval tokens shuffle once on the token key, the corpus
    never shuffles whole-row. Output integers only (rate = e6 div).
    """
    d = _t(spark, sf_dir, "documents")
    split = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16, 10).cast("bigint") % _OOV_SPLIT_MOD)
    toks = d.select(
        "doc_id", "source", split.alias("s"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")) \
        .filter(F.col("tok") != "")
    vocab = (toks.filter(F.col("s") < 80)
             .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "tok").limit(_OOV_VOCAB)
             .select("tok", F.lit(True).alias("in_vocab")))
    ev = (toks.filter((F.col("s") >= 80) & (F.col("s") < 90))
          .join(F.broadcast(vocab), "tok", "left"))
    return (ev.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("in_vocab").isNull().cast("bigint"))
                 .alias("n_oov"))
            .select("source", "n_tokens", "n_oov",
                    F.expr("CAST(CAST(n_oov AS DECIMAL(38,0)) * 1000000"
                           " div n_tokens AS BIGINT)")
                    .alias("oov_rate_e6")))


ORACLE_OOV = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_OOV_SPLIT_MOD} AS s,
         t AS tok
  FROM (SELECT doc_id, source,
               unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks WHERE s < 80 GROUP BY tok)
  ORDER BY c DESC, tok LIMIT {_OOV_VOCAB}
)
SELECT source, count(*) AS n_tokens,
       CAST(sum(CAST(v.tok IS NULL AS BIGINT)) AS BIGINT) AS n_oov,
       CAST(sum(CAST(v.tok IS NULL AS BIGINT)) * 1000000 // count(*)
            AS BIGINT) AS oov_rate_e6
FROM toks LEFT JOIN vocab v USING (tok)
WHERE s >= 80 AND s < 90
GROUP BY source
"""


QUERIES_EXT7.update({
    "histogram_quantile": q_histogram_quantile,
    "sorted_neighborhood": q_sorted_neighborhood,
    "label_prop_communities": q_label_prop_communities,
    "interval_overlap_join": q_interval_overlap_join,
    "oov_rate": q_oov_rate,
})

ORACLE_EXT7.update({
    "histogram_quantile": ORACLE_HISTOGRAM_QUANTILE,
    "sorted_neighborhood": ORACLE_SORTED_NEIGHBORHOOD,
    "label_prop_communities": _oracle_label_prop(),
    "interval_overlap_join": ORACLE_INTERVAL_OVERLAP,
    "oov_rate": ORACLE_OOV,
})
