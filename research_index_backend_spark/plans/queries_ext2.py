"""Round-4 catalog extension: analytics + training-data-pipeline queries.

Each entry follows the same contract as plans.queries / queries_ext:
a (spark, sf_dir) -> DataFrame callable plus an ANSI-SQL DuckDB twin
whose sorted-column value-hash must match exactly.

New surface this module adds (all absent from the reference, which has no
warehouse-style analytics at all — these are the first-class ops a 100 TB
training-data pipeline layer needs on top of SURVEY §2):

  rollup_report          hierarchical ROLLUP aggregation (region > nation)
  pivot_report           groupBy().pivot() cross-tab
  window_lag_delta       per-key LAG deltas (time-series differencing)
  ntile_bucket           NTILE quartiles per group
  stratified_sample      deterministic per-stratum hash sampling
  tfidf_topk             per-document top-3 TF-IDF terms
  bigram_topk            corpus top-20 bigrams
  simhash_hamming_pairs  near-dup pairs via 4-band SimHash blocking
  event_funnel           signup -> view -> purchase ordered funnel
  retention_cohort       weekly cohort retention matrix
  text_scrub             URL / e-mail scrubbing with removal counts
  percentile_report      exact interpolated quartiles per group
  running_total          cumulative window sums (decimal-exact)
  argmax_latest          arg-max aggregate with composite-key tie-break
  sequence_islands       gaps-and-islands run detection
  doc_chunk              overlapping context-window chunking (no shuffle)
  sequence_pack          greedy per-source packing into token budgets
  sequence_pack_sharded  two-level packing with bounded window partitions
  dedup_survivors        end-to-end dedup verdict (LSH -> CC -> keep-min)
  intersect_except       INTERSECT / EXCEPT set operations
  unpivot_report         wide-to-long unpivot (pivot inverse)
  rank_suite             rank/dense_rank/percent_rank/cume_dist
  bool_agg_report        bool_and / bool_or / count_if aggregates
  date_functions         quarter / ISO week / dow / last_day
  full_outer_merge       FULL OUTER reconciliation of two fact tables
  frame_functions        first/last/nth_value with explicit frames

Determinism rules (same as the rest of the catalog): integer outputs
wherever float summation order could differ (decimal-cast sums, e4
quantization of interpolated quantiles), md5-based hashing for anything
sampled or fingerprinted, and explicit tie-breaks on every rank/limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import simhash
from ..operators.textstats import doc_terms, doc_terms_sql, tokens, tokens_sql
from .queries import _t

# ---------------------------------------------------------------------------
# rollup_report — hierarchical aggregation (ROLLUP), SURVEY §2.4 family
# ---------------------------------------------------------------------------


def q_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue rolled up region > nation > grand total.

    Spark `rollup()` == SQL GROUP BY ROLLUP — one shuffle, the partial
    aggregates for the coarser levels are derived map-side by Catalyst
    (Expand + single hash agg), not one pass per level. Sums go through
    decimal(18,2) so partial-aggregation order cannot change the result
    (IEEE double sums are order-sensitive; decimals are exact).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("revenue"))
        .select(F.coalesce("r_name", F.lit("(all)")).alias("region"),
                F.coalesce("n_name", F.lit("(all)")).alias("nation"),
                "n_orders", "revenue")
    )


ORACLE_ROLLUP = """
SELECT coalesce(r_name, '(all)') AS region,
       coalesce(n_name, '(all)') AS nation,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# pivot_report — cross-tab (groupBy().pivot())
# ---------------------------------------------------------------------------


def q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority pivoted across order status columns.

    The pivot values are pinned explicitly — with an explicit list Spark
    skips the extra distinct-values job AND the plan compiles to one
    hash aggregate of conditional counts (same shape as the SQL oracle),
    which is the form that scales: a pivot with discovered values is two
    jobs and a driver collect.
    """
    o = _t(spark, sf_dir, "orders")
    piv = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["F", "O", "P"])
           .agg(F.count(F.lit(1))))
    return piv.select(
        F.col("o_orderpriority").alias("priority"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


ORACLE_PIVOT = """
SELECT o_orderpriority AS priority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# window_lag_delta — time-series differencing (LAG), SURVEY §2.5 family
# ---------------------------------------------------------------------------


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-over-event deltas: value diff and inter-event gap.

    One shuffle on user_id, then LAG inside the window — the canonical
    time-series differencing shape. Gap math runs on exact int64
    MICROseconds (ts_ns div 1000): DuckDB's parquet reader lands the
    nano timestamp at micro precision, so micros is the finest grain
    both engines agree on bit-for-bit (event_id tie-break keeps the
    ordering deterministic either way). The value delta is a single
    IEEE subtraction — exact and order-independent, unlike sums, so no
    decimal cast is needed.
    """
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return e.select(
        "event_id", "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )


ORACLE_LAG_DELTA = """
SELECT event_id, user_id,
       value - lag(value) OVER w AS value_delta,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


# ---------------------------------------------------------------------------
# ntile_bucket — NTILE quartiles per group
# ---------------------------------------------------------------------------


def q_ntile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment of order value within each priority class.

    NTILE's distribution rule (first n%4 buckets get the extra row) is
    identical in Spark and DuckDB; the orderBy carries o_orderkey as the
    tie-break so equal prices can't permute bucket edges.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice",
                                                      "o_orderkey")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORACLE_NTILE = """
SELECT o_orderkey, o_orderpriority AS priority,
       ntile(4) OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey) AS quartile
FROM orders
"""


# ---------------------------------------------------------------------------
# stratified_sample — deterministic per-stratum hash sampling
# ---------------------------------------------------------------------------

# per-status sampling rate in percent — the stratified part: rare strata
# ('P' is ~1% of orders) keep a much higher rate than common ones
_STRATA_PCT = {"F": 10, "O": 5, "P": 50}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: md5(key) mod 100 under a
    per-stratum threshold.

    `df.sample()` is seed-dependent on partitioning (a repartition changes
    the sample!), so pipelines that must be re-runnable sample by content
    hash instead: the same row is in or out forever, across engines,
    partition counts, and retries. That idempotence is what makes the
    sample auditable at 100 TB — and DuckDB-checkable here.
    """
    o = _t(spark, sf_dir, "orders")
    h = (F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16, 10).cast("bigint") % 100)
    thr = F.when(F.col("o_orderstatus") == "F", _STRATA_PCT["F"]) \
           .when(F.col("o_orderstatus") == "O", _STRATA_PCT["O"]) \
           .otherwise(_STRATA_PCT["P"])
    return (o.filter(h < thr)
            .select("o_orderkey", F.col("o_orderstatus").alias("stratum")))


ORACLE_STRATIFIED = f"""
SELECT o_orderkey, o_orderstatus AS stratum
FROM orders
WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
           AS BIGINT) % 100
      < CASE o_orderstatus WHEN 'F' THEN {_STRATA_PCT["F"]}
                           WHEN 'O' THEN {_STRATA_PCT["O"]}
                           ELSE {_STRATA_PCT["P"]} END
"""


# ---------------------------------------------------------------------------
# tfidf_topk — per-document top TF-IDF terms (text analysis)
# ---------------------------------------------------------------------------


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Shape: explode tokens (codegen split, no UDF) -> tf hash-agg ->
    df hash-agg -> broadcast the tiny (token, df) side back -> window
    top-3. The corpus size joins in via a broadcast 1-row agg, never a
    driver .count() (a count() is a separate job and a scale smell).

    Output is integers/strings only: the float score is rank-only,
    compared after round(…, 9) with the token as tie-break, so a last-ulp
    ln() difference between engines cannot flip the result row set.
    """
    d = _t(spark, sf_dir, "documents")
    tf = (doc_terms(d.select("doc_id", tokens("text").alias("toks")))
          .select("doc_id", F.col("term").alias("tok"), "tf"))
    # one doc_terms row per (doc, term): counting them per term is df
    df_docs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_docs), "tok")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log((F.col("n_docs") + 1)
                                                 / (F.col("df") + 1)))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("tok"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "tok", "tf", "df", "rnk"))


ORACLE_TFIDF = f"""
WITH tf AS (SELECT doc_id, term AS tok, tf FROM ({doc_terms_sql()})),
dfd AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfd.df,
         tf.tf * ln((nd.n_docs + 1) / (dfd.df + 1)) AS score
  FROM tf JOIN dfd USING (tok) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, tok, tf, df,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 9) DESC, tok) AS rnk
  FROM scored
)
SELECT doc_id, tok, tf, df, rnk FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# bigram_topk — corpus-level top-k n-grams
# ---------------------------------------------------------------------------


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 word bigrams.

    Bigrams are built with sequence+transform over the token array (all
    codegen — the same guarded-sequence shape as dedup.shingles_col: a
    <2-token doc yields an empty array, because sequence(1, 0) would
    count DOWN, not produce nothing). Count is map-side combined; the
    final top-20 is a tiny global sort with a lexicographic tie-break so
    the cut is deterministic.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    # token array STAGED to a named column before the bigram HOF
    # references it per position (the novelty_curve_report
    # CollapseProject lesson; measured 0.69 -> 0.46s at sf0.1)
    tk = F.col("tk")
    bigrams = F.when(F.size(tk) < 2, F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat(F.element_at(tk, i), F.lit(" "),
                               F.element_at(tk, i + 1))))
    return (
        d.select(toks.alias("tk"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


ORACLE_BIGRAM = rf"""
WITH t AS (
  SELECT doc_id,
         {tokens_sql()} AS toks
  FROM documents
),
b AS (
  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
  FROM t, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS g(i)
)
SELECT bigram, count(*) AS n FROM b
GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
"""


# ---------------------------------------------------------------------------
# simhash_hamming_pairs — near-dup pairs via SimHash band blocking
# ---------------------------------------------------------------------------

_SH_BITS = 60          # the Manku/Jain/Sarma web-dedup config is 64-bit
#                        fingerprints at hamming <= 3; 60 is the closest
#                        nibble-aligned width that keeps every intermediate
#                        in a signed 64-bit long in both engines.
_SH_BANDS = 4          # 4 bands x 15 bits
_SH_MAX_HAMMING = 3    # pigeonhole: <=3 flipped bits leave >=1 band intact


def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: Hamming(simhash_a, simhash_b) <= 3
    (the SimHash web-dedup design of Manku, Jain & Das Sarma, WWW'07 —
    64-bit fingerprint, k=3, block-permuted candidate lookup; banding is
    the join-friendly expression of their table-permutation scheme).

    Scale shape, two layers:
    1. Never all-pairs: by pigeonhole a pair within Hamming distance 3
       agrees exactly on >=1 of 4 bands, so candidates come from an
       equi-join on (band_id, band_value), then the exact bit_count(xor)
       filter keeps no false positives.
    2. Band at FINGERPRINT granularity, not document granularity. Real
       corpora (and this one: 5000 docs -> 3812 distinct fingerprints at
       sf0.1) carry large identical-fingerprint cliques; doc-level
       banding would push every clique through the join as a quadratic
       candidate blob and re-discover the same fp-pair thousands of
       times (measured: 6M candidates + a 6M-row distinct, ~10s).
       Collapsing to distinct fingerprints first makes the band join
       tiny, and the doc-level pairs come back via two expansion joins
       that emit exactly the output rows — no distinct needed:
         - cross-fp pairs: fp_pairs x members(fp_a) x members(fp_b)
         - within-fp pairs (hamming 0): members self-join on fp
    """
    d = _t(spark, sf_dir, "documents")
    # The fingerprint frame feeds THREE consumers (band join + both
    # expansion joins); without materialization Spark recomputes the
    # whole tokenize+vote aggregation per consumer (measured: 3x ~3s =
    # the entire query cost). One eager localCheckpoint makes it
    # compute-once — same lineage-truncation pattern as the iterative
    # graph queries. |fp| = one row per doc id+fingerprint, tiny.
    fp = simhash(d, "text", "doc_id", bits=_SH_BITS).select(
        F.col("id").alias("doc_id"),
        F.col("simhash").cast("long").alias("fp")).localCheckpoint()
    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1
    ufp = fp.select("fp").distinct()
    bands = ufp.select(
        "fp",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_id"),
                     F.shiftright("fp", i * width)
                      .bitwiseAND(F.lit(mask)).alias("band_val"))
            for i in range(_SH_BANDS)])).alias("b"))
    a, b = bands.alias("a"), bands.alias("b")
    fp_pairs = (
        a.join(b, (F.col("a.b.band_id") == F.col("b.b.band_id"))
               & (F.col("a.b.band_val") == F.col("b.b.band_val"))
               & (F.col("a.fp") < F.col("b.fp")))
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= _SH_MAX_HAMMING))
    ma, mb = fp.alias("ma"), fp.alias("mb")
    cross = (fp_pairs
             .join(ma, F.col("ma.fp") == F.col("fp_a"))
             .join(mb, F.col("mb.fp") == F.col("fp_b"))
             .select(F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
                     F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
                     "hamming"))
    within = (ma.join(mb, (F.col("ma.fp") == F.col("mb.fp"))
                      & (F.col("ma.doc_id") < F.col("mb.doc_id")))
              .select(F.col("ma.doc_id").alias("doc_a"),
                      F.col("mb.doc_id").alias("doc_b"),
                      F.lit(0).alias("hamming")))
    return cross.unionByName(within)


def _oracle_hamming_pairs() -> str:
    from .queries_ext import _oracle_simhash
    return f"""
WITH fp AS ({_oracle_simhash(_SH_BITS)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# event_funnel — ordered multi-step funnel
# ---------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who signed up, then viewed, then purchased — in that order.

    One hash-agg with conditional mins (no join per step, no window):
    min ts per step per user, then the strict ordering filter. Exact
    int64 MICROsecond arithmetic (truncation is monotone, so
    min(trunc(x)) == trunc(min(x)) — micros is the finest grain DuckDB's
    parquet reader preserves). This is the funnel shape that scales — a
    per-step self-join would be k shuffles of the full event log.
    """
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000"))

    def step_min(step: str):
        return F.min(F.when(F.col("event_type") == step,
                            F.col("ts_us"))).alias(f"t_{step}")

    return (
        e.groupBy("user_id")
        .agg(step_min("signup"), step_min("view"), step_min("purchase"))
        .filter(F.col("t_signup").isNotNull()
                & F.col("t_view").isNotNull()
                & F.col("t_purchase").isNotNull()
                & (F.col("t_signup") < F.col("t_view"))
                & (F.col("t_view") < F.col("t_purchase")))
        .select("user_id", "t_signup", "t_view", "t_purchase")
    )


ORACLE_FUNNEL = """
SELECT user_id,
       min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
       min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
       min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
FROM events GROUP BY user_id
HAVING t_signup IS NOT NULL AND t_view IS NOT NULL
   AND t_purchase IS NOT NULL
   AND t_signup < t_view AND t_view < t_purchase
"""


# ---------------------------------------------------------------------------
# retention_cohort — weekly cohort retention matrix
# ---------------------------------------------------------------------------


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort (first-seen week) x week-offset distinct-user counts.

    Two hash-aggs and one join on user_id; the per-user first-seen frame
    is |users| rows (tiny vs |events|) so it broadcasts. Week truncation
    uses date_trunc('week') — Monday-start in both engines.
    """
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min("ts_ns").alias("first_ns"))
    cohort = first.select(
        "user_id",
        F.date_trunc("week", F.timestamp_micros(
            F.expr("first_ns div 1000"))).alias("cohort_w"))
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_w")).distinct()
    return (
        active.join(F.broadcast(cohort), "user_id")
        .groupBy("cohort_w", "active_w")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
            ((F.datediff(F.to_date("active_w"), F.to_date("cohort_w")) / 7)
             .cast("int")).alias("week_index"),
            "n_users")
    )


ORACLE_COHORT = """
WITH f AS (SELECT user_id, min(epoch_ns(ts)) AS first_ns
           FROM events GROUP BY 1),
c AS (SELECT user_id,
             date_trunc('week', make_timestamp(first_ns // 1000)) AS cohort_w
      FROM f),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_w FROM events)
SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', CAST(cohort_w AS DATE),
                      CAST(active_w AS DATE)) // 7 AS INT) AS week_index,
       count(DISTINCT user_id) AS n_users
FROM a JOIN c USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# text_scrub — URL / e-mail scrubbing (PII-style cleaning)
# ---------------------------------------------------------------------------

_URL_RE = r"https?://\S+"
_EMAIL_RE = r"[A-Za-z0-9_.+-]+@[A-Za-z0-9_.-]+"


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub URLs and e-mail addresses from documents, reporting removal
    counts and an md5 of the cleaned text.

    The synthetic corpus contains neither, so the query salts a
    deterministic contact line into each document first — the point is
    proving the scrub operators (regexp_count + global regexp_replace)
    behave identically across engines, on text that actually exercises
    them. Patterns use explicit ASCII classes, not \\w, so Java-regex vs
    RE2 class-semantics differences can't bite.
    """
    d = _t(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or https://ex.org/d/"),
        F.col("doc_id").cast("string"))
    cleaned = F.regexp_replace(F.regexp_replace(salted, _URL_RE, ""),
                               _EMAIL_RE, "")
    return d.select(
        "doc_id",
        F.regexp_count(salted, F.lit(_URL_RE)).alias("n_urls"),
        F.regexp_count(salted, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.md5(cleaned).alias("clean_md5"),
    )


ORACLE_SCRUB = rf"""
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.org/d/'
              || CAST(doc_id AS VARCHAR) AS salted
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(salted, '{_URL_RE}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(salted, '{_EMAIL_RE}')) AS INT) AS n_emails,
       md5(regexp_replace(regexp_replace(salted, '{_URL_RE}', '', 'g'),
                          '{_EMAIL_RE}', '', 'g')) AS clean_md5
FROM s
"""


# ---------------------------------------------------------------------------
# percentile_report — exact interpolated quantiles per group
# ---------------------------------------------------------------------------


def q_percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of extended price per return flag — EXACT percentiles
    (Spark `percentile`, linear interpolation at h = (n-1)p), not the
    approx sketch: approx_percentile/t-digest output is
    implementation-defined and can't oracle-match. e4 integer
    quantization absorbs last-ulp interpolation differences.

    Scale note: exact percentile needs the group sorted — at 100 TB you'd
    reach for approx_percentile and accept sketch error; this entry is
    the correctness anchor the sketch gets compared against.
    """
    li = _t(spark, sf_dir, "lineitem")
    # ONE percentile(col, array(...)) aggregate, not three: the exact
    # percentile buffers every group value, so three separate aggs hold
    # (and sort) the buffer three times — the array form shares it.
    pcts = F.percentile("l_extendedprice",
                        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (li.groupBy("l_returnflag").agg(pcts.alias("ps"))
            .select("l_returnflag", *[
                F.round(F.element_at("ps", i + 1) * 1e4).cast("bigint")
                 .alias(n)
                for i, n in enumerate(("p25_e4", "p50_e4", "p75_e4"))]))


ORACLE_PERCENTILE = """
SELECT l_returnflag,
       CAST(round(quantile_cont(l_extendedprice, 0.25) * 1e4) AS BIGINT) AS p25_e4,
       CAST(round(quantile_cont(l_extendedprice, 0.50) * 1e4) AS BIGINT) AS p50_e4,
       CAST(round(quantile_cont(l_extendedprice, 0.75) * 1e4) AS BIGINT) AS p75_e4
FROM lineitem GROUP BY 1
"""


QUERIES_EXT2 = {
    "rollup_report": q_rollup_report,
    "pivot_report": q_pivot_report,
    "window_lag_delta": q_window_lag_delta,
    "ntile_bucket": q_ntile_bucket,
    "stratified_sample": q_stratified_sample,
    "tfidf_topk": q_tfidf_topk,
    "bigram_topk": q_bigram_topk,
    "simhash_hamming_pairs": q_simhash_hamming_pairs,
    "event_funnel": q_event_funnel,
    "retention_cohort": q_retention_cohort,
    "text_scrub": q_text_scrub,
    "percentile_report": q_percentile_report,
}

ORACLE_EXT2 = {
    "rollup_report": ORACLE_ROLLUP,
    "pivot_report": ORACLE_PIVOT,
    "window_lag_delta": ORACLE_LAG_DELTA,
    "ntile_bucket": ORACLE_NTILE,
    "stratified_sample": ORACLE_STRATIFIED,
    "tfidf_topk": ORACLE_TFIDF,
    "bigram_topk": ORACLE_BIGRAM,
    "simhash_hamming_pairs": _oracle_hamming_pairs(),
    "event_funnel": ORACLE_FUNNEL,
    "retention_cohort": ORACLE_COHORT,
    "text_scrub": ORACLE_SCRUB,
    "percentile_report": ORACLE_PERCENTILE,
}


# ---------------------------------------------------------------------------
# running_total — cumulative window aggregation
# ---------------------------------------------------------------------------


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative order revenue in order-date order.

    ROWS UNBOUNDED PRECEDING running sum — one shuffle on o_custkey, then
    a sorted streaming frame per partition (no quadratic re-aggregation:
    Spark's WindowExec computes rows-frames incrementally). The sum runs
    in decimal(18,2): a running DOUBLE sum is order-dependent and the
    orderBy fixes the order, but decimal keeps it exact under any
    partial-aggregation Spark might introduce — and matches DuckDB
    digit-for-digit.
    """
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
         .cast("double").alias("running_revenue"))


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
FROM orders
"""


# ---------------------------------------------------------------------------
# argmax_latest — arg-max aggregate (max_by / arg_max)
# ---------------------------------------------------------------------------


def q_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's most recent order key: max_by with a composite
    (o_orderdate, o_orderkey) ordering — the tie-break is part of the
    aggregate itself, so the result is deterministic without a window.
    One hash-agg, map-side combined; the window-based group_top1 twin
    shuffles whole rows, this shuffles one value per group.

    The composite key is encoded as ONE bigint (days-since-epoch * 1e12
    + orderkey): DuckDB's arg_max takes scalar ordering only, and an
    integer encoding is also the cheapest thing to partial-aggregate.
    """
    o = _t(spark, sf_dir, "orders")
    ordk = (F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("bigint") * F.lit(1_000_000_000_000)
            + F.col("o_orderkey"))
    return (o.groupBy("o_custkey")
            .agg(F.max_by("o_orderkey", ordk).alias("latest_orderkey"),
                 F.max("o_orderdate").alias("latest_date"))
            .select("o_custkey", "latest_orderkey",
                    F.date_format("latest_date", "yyyy-MM-dd")
                     .alias("latest_date")))


ORACLE_ARGMAX = """
SELECT o_custkey,
       arg_max(o_orderkey,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
               * 1000000000000 + o_orderkey) AS latest_orderkey,
       strftime(max(o_orderdate), '%Y-%m-%d') AS latest_date
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# sequence_islands — gaps-and-islands detection
# ---------------------------------------------------------------------------


def q_sequence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous o_orderkey runs per order status (gaps-and-islands):
    island_id = key - row_number() is constant within a consecutive run —
    the classic trick, one window + one hash-agg, all integer arithmetic.
    Emits runs of length >= 3 (start, end, length).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
    runs = (o.select("o_orderstatus", "o_orderkey")
            .withColumn("island",
                        F.col("o_orderkey") - F.row_number().over(w)))
    return (runs.groupBy("o_orderstatus", "island")
            .agg(F.min("o_orderkey").alias("run_start"),
                 F.max("o_orderkey").alias("run_end"),
                 F.count(F.lit(1)).alias("run_len"))
            .filter(F.col("run_len") >= 3)
            .select("o_orderstatus", "run_start", "run_end", "run_len"))


ORACLE_ISLANDS = """
WITH runs AS (
  SELECT o_orderstatus, o_orderkey,
         o_orderkey - row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_orderkey) AS island
  FROM orders
)
SELECT o_orderstatus, min(o_orderkey) AS run_start,
       max(o_orderkey) AS run_end, count(*) AS run_len
FROM runs GROUP BY o_orderstatus, island
HAVING count(*) >= 3
"""


QUERIES_EXT2.update({
    "running_total": q_running_total,
    "argmax_latest": q_argmax_latest,
    "sequence_islands": q_sequence_islands,
})

ORACLE_EXT2.update({
    "running_total": ORACLE_RUNNING_TOTAL,
    "argmax_latest": ORACLE_ARGMAX,
    "sequence_islands": ORACLE_ISLANDS,
})


# ---------------------------------------------------------------------------
# doc_chunk — context-window chunking with overlap (training-data prep)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 100
_CHUNK_STEP = 90  # 10-token overlap between consecutive chunks


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping token chunks (100-token
    windows, stride 90) — the standard context-window prep step before
    tokenized training shards.

    All codegen: token split, sequence() of chunk starts, posexplode for
    the chunk index, slice() for the window — no UDF and no shuffle at
    all until a downstream consumer asks for one (the output is
    embarrassingly parallel per document, which is exactly what you want
    when this runs over 100 TB of text). Chunk text leaves the query as
    md5 — the narrow-output discipline every text query here follows.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    with_toks = (d.select("doc_id", toks.alias("toks"))
                 .filter(F.size("toks") >= 1))
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_STEP))
    return (with_toks
            .select("doc_id", "toks",
                    F.posexplode(starts).alias("chunk_idx", "start"))
            .select(
                "doc_id", "chunk_idx",
                F.size(F.slice("toks", F.col("start"), _CHUNK_TOKENS))
                 .alias("n_tokens"),
                F.md5(F.concat_ws(
                    " ", F.slice("toks", F.col("start"), _CHUNK_TOKENS)))
                 .alias("chunk_md5")))


ORACLE_DOC_CHUNK = rf"""
WITH t AS (
  SELECT doc_id,
         {tokens_sql()} AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks, g.i AS start,
         CAST((g.i - 1) // {_CHUNK_STEP} AS INT) AS chunk_idx
  FROM t, unnest(generate_series(1, len(toks), {_CHUNK_STEP})) AS g(i)
  WHERE len(toks) >= 1
)
SELECT doc_id, chunk_idx,
       CAST(len(toks[start:least(start + {_CHUNK_TOKENS} - 1, len(toks))])
            AS INT) AS n_tokens,
       md5(array_to_string(
           toks[start:least(start + {_CHUNK_TOKENS} - 1, len(toks))], ' '))
         AS chunk_md5
FROM s
"""


# ---------------------------------------------------------------------------
# sequence_pack — greedy sequential packing into token budgets
# ---------------------------------------------------------------------------

_PACK_BUDGET = 4096


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to training-shard packs of <= ~4096 tokens:
    pack_id = floor(running-token-count-before-me / budget), packed in
    doc_id order WITHIN EACH SOURCE.

    Sequential packing is inherently order-dependent, so a global
    ordering would serialize the whole corpus through one window
    partition; packing per source keeps the exact greedy semantics
    within each stream while partitioning the work — the practical
    sharding choice for a 100 TB corpus (sources are the natural unit
    training shards come from anyway). Integer token counts + integer
    division: exact in any engine.
    """
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (d.select("doc_id", "source", n_tok.alias("n_tokens"))
            .withColumn("cum_before",
                        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            .select("doc_id", "source", "n_tokens",
                    (F.col("cum_before") / _PACK_BUDGET).cast("int")
                    .alias("pack_id")))


ORACLE_SEQUENCE_PACK = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({tokens_sql()}) AS INT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {_PACK_BUDGET} AS INT) AS pack_id
FROM t
"""


# Two-level packing: sub-shard each source, pack greedily WITHIN a shard,
# then renumber shard-local packs to a per-source global id. Bounds the
# window partition at _PACK_SHARD_ROWS docs — a single giant source no
# longer serializes one task (the documented weak spot of q_sequence_pack).
_PACK_SHARD_ROWS = 64


def q_sequence_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-partition sequence packing.

    Level 1: shard = doc_id div _PACK_SHARD_ROWS — deterministic, dense
    or sparse ids alike. Greedy cum-sum packing runs per (source, shard),
    so no window partition exceeds the shard width regardless of how
    skewed sources are. Level 2: per-shard pack counts are cum-summed per
    source (a tiny window over n_shards rows) and broadcast-joined back
    as offsets, renumbering local packs into one contiguous per-source
    pack sequence.

    Semantics differ from q_sequence_pack only in that the greedy
    accumulator resets at shard boundaries (each shard's first doc opens
    a fresh pack) — the price of boundedness, and exactly what a
    distributed packer does at 100 TB.
    """
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    base = d.select(
        "doc_id", "source", n_tok.alias("n_tokens"),
        F.floor(F.col("doc_id") / _PACK_SHARD_ROWS).alias("shard"))
    w_local = (Window.partitionBy("source", "shard").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    local = base.withColumn(
        "local_pack",
        (F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
         / _PACK_BUDGET).cast("int"))
    # both the offsets aggregate and the final join consume `local`;
    # without materialization Catalyst plans the tokenize+window subtree
    # twice (A/B at sf0.1: 1.5s -> 1.15s, and at 100 TB the second full
    # tokenization pass is the real cost). The checkpoint is tiny: one
    # narrow row per document.
    local = local.localCheckpoint()
    w_shard = (Window.partitionBy("source").orderBy("shard")
               .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (local.groupBy("source", "shard")
               .agg((F.max("local_pack") + 1).alias("n_packs"))
               .withColumn("offset",
                           F.coalesce(F.sum("n_packs").over(w_shard),
                                      F.lit(0)))
               .select("source", "shard", "offset"))
    return (local.join(F.broadcast(offsets), ["source", "shard"])
            .select("doc_id", "source", "n_tokens",
                    (F.col("offset") + F.col("local_pack")).cast("int")
                    .alias("pack_id")))


ORACLE_SEQUENCE_PACK_SHARDED = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({tokens_sql()}) AS INT) AS n_tokens,
         doc_id // {_PACK_SHARD_ROWS} AS shard
  FROM documents
), local AS (
  SELECT doc_id, source, n_tokens, shard,
         CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY source, shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_PACK_BUDGET} AS INT) AS local_pack
  FROM t
), offsets AS (
  SELECT source, shard,
         coalesce(sum(max_pack + 1) OVER (
             PARTITION BY source ORDER BY shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT source, shard, max(local_pack) AS max_pack
        FROM local GROUP BY source, shard)
)
SELECT l.doc_id, l.source, l.n_tokens,
       CAST(o.off + l.local_pack AS INT) AS pack_id
FROM local l JOIN offsets o USING (source, shard)
"""


# ---------------------------------------------------------------------------
# dedup_survivors — end-to-end corpus dedup verdict
# ---------------------------------------------------------------------------


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE dedup pipeline output: for every document, its canonical
    representative (min doc_id of its near-dup component) and whether it
    survives dedup. Composes MinHash-LSH star edges (linear in bucket
    size) -> connected components (min-label propagation) -> keep-min
    rule; no new shuffle beyond what components already does.
    """
    from .queries_ext import q_graph_components
    comp = q_graph_components(spark, sf_dir)
    return comp.select(
        "doc_id",
        F.col("component").alias("canonical_id"),
        (F.col("doc_id") == F.col("component")).alias("kept"))


def _oracle_survivors() -> str:
    from .queries_ext import ORACLE_COMPONENTS
    return f"""
WITH comp AS ({ORACLE_COMPONENTS})
SELECT doc_id, component AS canonical_id,
       doc_id = component AS kept
FROM comp
"""


QUERIES_EXT2.update({
    "doc_chunk": q_doc_chunk,
    "sequence_pack": q_sequence_pack,
    "sequence_pack_sharded": q_sequence_pack_sharded,
    "dedup_survivors": q_dedup_survivors,
})

ORACLE_EXT2.update({
    "doc_chunk": ORACLE_DOC_CHUNK,
    "sequence_pack": ORACLE_SEQUENCE_PACK,
    "sequence_pack_sharded": ORACLE_SEQUENCE_PACK_SHARDED,
    "dedup_survivors": _oracle_survivors(),
})


# ---------------------------------------------------------------------------
# intersect_except — set-operation coverage (X-family)
# ---------------------------------------------------------------------------


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both an open AND a finished order, minus any with a
    'P' order: INTERSECT then EXCEPT, the two set ops the catalog's
    anti/semi splits don't already cover. Set semantics (DISTINCT rows)
    in both engines; each input is a pre-distinct single column so the
    set ops run on minimal shuffles.
    """
    o = _t(spark, sf_dir, "orders")

    def custs(status: str) -> DataFrame:
        return (o.filter(F.col("o_orderstatus") == status)
                .select("o_custkey").distinct())

    return custs("F").intersect(custs("O")).exceptAll(custs("P")) \
        .select(F.col("o_custkey").alias("custkey"))


ORACLE_INTERSECT_EXCEPT = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


# ---------------------------------------------------------------------------
# unpivot_report — wide-to-long reshaping (the pivot inverse)
# ---------------------------------------------------------------------------


def q_unpivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt per-priority status counts back to long form: pivot's inverse
    (DataFrame.unpivot == ANSI UNPIVOT). The unpivot itself is a
    zero-shuffle Expand over the aggregated frame — reshaping is free;
    only the upstream aggregation shuffles.
    """
    wide = q_pivot_report(spark, sf_dir)
    return (wide.unpivot("priority", ["n_f", "n_o", "n_p"],
                         "status_col", "n_orders")
            .select("priority",
                    F.upper(F.substring("status_col", 3, 1)).alias("status"),
                    "n_orders"))


ORACLE_UNPIVOT = """
WITH wide AS (
  SELECT o_orderpriority AS priority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
  FROM orders GROUP BY 1
)
SELECT priority, status, n_orders FROM (
  SELECT priority, 'F' AS status, n_f AS n_orders FROM wide
  UNION ALL SELECT priority, 'O', n_o FROM wide
  UNION ALL SELECT priority, 'P', n_p FROM wide
)
"""


# ---------------------------------------------------------------------------
# rank_suite — the remaining ranking window functions in one pass
# ---------------------------------------------------------------------------


def q_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist over one window —
    ONE sort per partition serves all four (WindowExec evaluates every
    function over the shared frame). Ties are real here (prices repeat
    per priority at integer dollars), which is exactly what distinguishes
    rank from dense_rank; floats percent_rank/cume_dist are exact
    rationals computed identically ((rank-1)/(n-1), peers/n) so they
    hash-match without quantization.

    The tie key is floor(), NOT round(): Spark rounds doubles via
    BigDecimal HALF_UP while DuckDB rounds the binary double, so a
    round()-keyed window's tie groups would depend on engine rounding
    mode for .5-boundary prices (round-4 ADVICE). floor() of the same
    binary double is bit-identical on both engines.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
        .orderBy(F.floor("o_totalprice"))
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


ORACLE_RANK_SUITE = """
SELECT o_orderkey, o_orderpriority AS priority,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY floor(o_totalprice))
"""


# ---------------------------------------------------------------------------
# bool_agg_report — boolean / conditional aggregates
# ---------------------------------------------------------------------------


def q_bool_agg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or / count_if per order status — the predicate
    aggregates monitoring queries are made of, one hash-agg with map-side
    partials (each is a tiny commutative accumulator).
    """
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
                 F.bool_or(F.col("o_orderpriority") == "1-URGENT")
                  .alias("any_urgent"),
                 F.count_if(F.col("o_totalprice") > 200000)
                  .alias("n_big")))


ORACLE_BOOL_AGG = """
SELECT o_orderstatus AS status,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# date_functions — calendar decomposition beyond year/month/day
# ---------------------------------------------------------------------------


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter / ISO week / day-of-week / last-day-of-month / month-end
    flag per order date — the calendar helpers date_decompose (F8)
    doesn't cover. All pure projections over the scan; the distinct at
    the end keeps the checked output at calendar granularity.
    weekday(): Spark's dayofweek is 1=Sunday while DuckDB's is 0=Sunday —
    both sides are normalized to ISO (1=Monday..7=Sunday) explicitly.
    """
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (o.select(
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
        (((F.dayofweek(d) + 5) % 7) + 1).alias("iso_dow"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        (d == F.last_day(d)).alias("is_month_end"))
        .distinct())


ORACLE_DATE_FUNCS = """
SELECT DISTINCT
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       CAST(isodow(o_orderdate) AS INT) AS iso_dow,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE))
         AS is_month_end
FROM orders
"""


QUERIES_EXT2.update({
    "intersect_except": q_intersect_except,
    "unpivot_report": q_unpivot_report,
    "rank_suite": q_rank_suite,
    "bool_agg_report": q_bool_agg_report,
    "date_functions": q_date_functions,
})

ORACLE_EXT2.update({
    "intersect_except": ORACLE_INTERSECT_EXCEPT,
    "unpivot_report": ORACLE_UNPIVOT,
    "rank_suite": ORACLE_RANK_SUITE,
    "bool_agg_report": ORACLE_BOOL_AGG,
    "date_functions": ORACLE_DATE_FUNCS,
})


# ---------------------------------------------------------------------------
# full_outer_merge — FULL OUTER join (the one join family still unchecked)
# ---------------------------------------------------------------------------


def q_full_outer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity activity across two fact tables that only partially
    share an id domain: orders per customer FULL OUTER events per user.
    Either side may be absent — the coalesced key + zero-filled counts
    is the canonical reconciliation-report shape. Both inputs aggregate
    BEFORE the join (two small keyed frames), so the outer join shuffles
    |keys| rows, not |facts|.
    """
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    per_cust = o.groupBy(F.col("o_custkey").alias("id")) \
        .agg(F.count(F.lit(1)).alias("n_orders"))
    per_user = e.groupBy(F.col("user_id").alias("id")) \
        .agg(F.count(F.lit(1)).alias("n_events"))
    return (per_cust.join(per_user, "id", "full_outer")
            .select(F.col("id").alias("entity_id"),
                    F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events")))


ORACLE_FULL_OUTER = """
WITH pc AS (SELECT o_custkey AS id, count(*) AS n_orders
            FROM orders GROUP BY 1),
pu AS (SELECT user_id AS id, count(*) AS n_events
       FROM events GROUP BY 1)
SELECT coalesce(pc.id, pu.id) AS entity_id,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(n_events, 0) AS n_events
FROM pc FULL OUTER JOIN pu ON pc.id = pu.id
"""


# ---------------------------------------------------------------------------
# frame_functions — value-position window functions with explicit frames
# ---------------------------------------------------------------------------


def q_frame_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value / lead per user over the full
    partition frame. last_value needs the explicit UNBOUNDED FOLLOWING
    frame in BOTH engines — the default frame ends at CURRENT ROW, which
    silently turns last_value into "current value" (a classic window
    bug; the explicit frame here is the regression pin). Values are
    selected, not computed, so doubles pass through bit-identical.
    """
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000"))
    order = [F.col("ts_us").asc(), F.col("event_id").asc()]
    full = (Window.partitionBy("user_id").orderBy(*order)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    cur = Window.partitionBy("user_id").orderBy(*order)
    return e.select(
        "event_id", "user_id",
        F.first_value("value").over(full).alias("first_val"),
        F.last_value("value").over(full).alias("last_val"),
        F.nth_value("value", 2).over(full).alias("second_val"),
        F.lead("value").over(cur).alias("next_val"),
    )


ORACLE_FRAME_FUNCS = """
SELECT event_id, user_id,
       first_value(value) OVER wf AS first_val,
       last_value(value) OVER wf AS last_val,
       nth_value(value, 2) OVER wf AS second_val,
       lead(value) OVER wc AS next_val
FROM events
WINDOW wf AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       wc AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


QUERIES_EXT2.update({
    "full_outer_merge": q_full_outer_merge,
    "frame_functions": q_frame_functions,
})

ORACLE_EXT2.update({
    "full_outer_merge": ORACLE_FULL_OUTER,
    "frame_functions": ORACLE_FRAME_FUNCS,
})


# ---------------------------------------------------------------------------
# dedup_embedding_multi — multi-table hyperplane LSH near-dup (recall knob)
# ---------------------------------------------------------------------------


def q_dedup_embedding_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with L=2 INDEPENDENT hyperplane LSH tables
    (plane offsets 0 and 4) unioned for recall — the knob that pays back
    what bucketing + the hot-bucket cap cost. One corpus scan produces
    both tables' buckets (explode over a 2-struct array); the candidate
    self-join keys on (table, bucket) in one shuffle; the cap applies
    per (table, bucket); pairs caught by both tables dedupe after
    scoring. Deterministic md5-parity hyperplanes keep the whole thing
    SQL-oracle-checkable.

    Bits are corpus-sized (adaptive_lsh_bits, floor 4 == the checked-SF
    value, so the oracle's plane set holds); the second table's plane
    offset tracks the sized bit count so the two families stay
    independent at any N."""
    from ..operators.dedup import adaptive_lsh_bits, embedding_near_dup_pairs
    from ..sources.stats import table_rowcount_or_count
    emb = _t(spark, sf_dir, "embeddings")
    n_rows = table_rowcount_or_count(sf_dir, "embeddings", emb, "vec_id")
    bits = adaptive_lsh_bits(n_rows)
    return embedding_near_dup_pairs(emb, threshold_e6=300_000, n_bits=bits,
                                    n_tables=2, max_bucket_size=100,
                                    max_bucket_denom=4)


def _hp_dot(plane: int) -> str:
    # DuckDB twin of ann.hyperplane_lsh_bucket's weighted dot: j is
    # 1-based in DuckDB lambdas, the md5 seed uses 0-based coords
    return (
        "list_reduce(list_transform(embedding, (x, j) -> "
        "CAST(x AS DOUBLE) * CASE WHEN substr(md5("
        f"'{plane}:' || CAST(j - 1 AS VARCHAR)), 1, 1) < '8' "
        "THEN 1.0 ELSE -1.0 END), (acc, v) -> acc + v)")


def _hp_bucket(offset: int) -> str:
    return " + ".join(
        f"(CASE WHEN {_hp_dot(offset + i)} > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(4))


_DOT_D2 = ("list_reduce(list_transform(generate_series(1, len({a})), "
           "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
           "(x, y) -> x + y)")
_NORM_D2 = ("sqrt(list_reduce(list_transform({a}, "
            "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))")

ORACLE_DEDUP_EMB_MULTI = f"""
WITH tagged AS (
  SELECT vec_id, embedding, 0 AS tbl, {_hp_bucket(0)} AS bucket
  FROM embeddings
  UNION ALL
  SELECT vec_id, embedding, 1 AS tbl, {_hp_bucket(4)} AS bucket
  FROM embeddings
),
ok AS (SELECT tbl, bucket FROM tagged GROUP BY 1, 2
       HAVING count(*) <= greatest(100, (SELECT count(*) FROM embeddings) // 4)),
capped AS (SELECT t.* FROM tagged t JOIN ok USING (tbl, bucket)),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(round(
           {_DOT_D2.format(a='a.embedding', b='b.embedding')}
           / ({_NORM_D2.format(a='a.embedding')}
              * {_NORM_D2.format(a='b.embedding')}) * 1e6) AS BIGINT) AS sim_e6
  FROM capped a JOIN capped b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, sim_e6 FROM pairs WHERE sim_e6 >= 300000
"""


QUERIES_EXT2.update({
    "dedup_embedding_multi": q_dedup_embedding_multi,
})

ORACLE_EXT2.update({
    "dedup_embedding_multi": ORACLE_DEDUP_EMB_MULTI,
})
