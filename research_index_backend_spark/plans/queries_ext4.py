"""Catalog extension 4 (round 7). Each entry is oracle-checked against
DuckDB like every other catalog query.

Property-graph motifs, run through graph.queries.PropertyGraph.match —
the Cypher-MATCH-shaped compiler (reference models.py:36-66 /
create_graph_from_doi.py:53-65 query Memgraph with these shapes):

  graph_motif_wedge     heterogeneous co-location wedge
                        (s)-[:s_loc]->(n:nation)<-[:c_loc]-(c)
  graph_motif_path      labeled 2-hop chain with node properties
                        (s:supplier)->(n:nation)->(r:region)

Timeseries / warehouse:

  asof_tolerance        forward as-of join, 1-hour max gap
  scd2_history          SCD-type-2 validity intervals via LEAD
  group_topk_ties       per-group top-k keeping ties (WindowGroupLimit)
  grouping_sets_report  explicit GROUPING SETS + GROUPING flags

Training-data pipeline:

  pii_scrub             count+mask emails/phones/IPs (all-JVM regexp)
  vocab_drift           per-source token log-odds drift, top-40
  mix_plan              temperature-scaled domain mixing weights
  token_histogram       log2-bucketed corpus length distribution
  quality_calibration   decile calibration of a TTR quality proxy
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.queries import PropertyGraph
from ..operators.textstats import tokens, tokens_sql
from .queries import _t

QUERIES_EXT4: dict = {}
ORACLE_EXT4: dict = {}


# ---------------------------------------------------------------------------
# graph_motif_wedge — heterogeneous co-location wedge
# ---------------------------------------------------------------------------


def q_graph_motif_wedge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier/customer co-location wedge via the motif compiler:
    (s)-[:s_loc]->(n:nation)<-[:c_loc]-(c) — the reference's
    co-authorship shape ((a1)-[:author_of]->(o)<-[:author_of]-(a2)) on
    two DIFFERENT edge types meeting at the center var.

    The match compiles to one hash equi-join of the two edge lists on
    the nation key plus a broadcast label join for n_name — no driver
    loop, no cartesian. The wedge BINDING TABLE is the motif's product;
    the rollup keeps the checked output nation-sized. (For the counts
    alone you'd pre-aggregate each side and multiply — the binding
    table is what downstream per-pair logic consumes.)

    Scale: wedge size is sum over nations of |S_n|*|C_n| — quadratic in
    co-located entities, the same blow-up q_graph_two_hop hub-caps; a
    25-nation dim keeps it bounded here, and the center var of any
    unbounded wedge gets the same degree cap before registration.
    """
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    g = (PropertyGraph()
         .with_nodes("nation", n, id_col="n_nationkey",
                     props=("n_name",), broadcast=True)
         .with_edges("s_loc", s.select("s_suppkey", "s_nationkey"),
                     src="s_suppkey", dst="s_nationkey")
         .with_edges("c_loc", c.select("c_custkey", "c_nationkey"),
                     src="c_custkey", dst="c_nationkey"))
    wedge = g.match("(s)-[:s_loc]->(n:nation)<-[:c_loc]-(c)")
    return (wedge.groupBy(F.col("n_n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.count_distinct("s").alias("n_suppliers"),
                 F.count_distinct("c").alias("n_customers")))


ORACLE_MOTIF_WEDGE = """
SELECT n_name AS nation,
       count(*) AS n_pairs,
       count(DISTINCT s_suppkey) AS n_suppliers,
       count(DISTINCT c_custkey) AS n_customers
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN customer ON c_nationkey = n_nationkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# graph_motif_path — labeled chain with node properties
# ---------------------------------------------------------------------------


def q_graph_motif_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy path (s:supplier)-[:in_nation]->(n:nation)-[:in_region]->
    (r:region) — the reference's unit-hierarchy traversal
    ((unit)-[:unit_of]->(parent), create_graph.py partOf edges), rolled
    up to suppliers per (nation, region).

    Both label frames carry properties, so the compiler attaches them as
    broadcast inner joins after the chain — the chain itself is two hash
    joins on int keys, dims never shuffle the supplier scan.
    """
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    g = (PropertyGraph()
         .with_nodes("nation", n, id_col="n_nationkey",
                     props=("n_name",), broadcast=True)
         .with_nodes("region", r, id_col="r_regionkey",
                     props=("r_name",), broadcast=True)
         .with_edges("in_nation", s.select("s_suppkey", "s_nationkey"),
                     src="s_suppkey", dst="s_nationkey")
         .with_edges("in_region", n.select("n_nationkey", "n_regionkey"),
                     src="n_nationkey", dst="n_regionkey"))
    path = g.match("(s)-[:in_nation]->(n:nation)-[:in_region]->(r:region)")
    return (path.groupBy(F.col("r_r_name").alias("region"),
                         F.col("n_n_name").alias("nation"))
            .agg(F.count(F.lit(1)).alias("n_suppliers")))


ORACLE_MOTIF_PATH = """
SELECT r_name AS region, n_name AS nation, count(*) AS n_suppliers
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# asof_tolerance — forward as-of join with a max-gap bound
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 3_600_000_000  # 1 hour, microseconds


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (operators.asof.asof_join_forward):
    each click paired with the user's FIRST purchase at-or-after it,
    null when none lands within the hour — attribution windows, sensor
    next-reading lookups. Microsecond keys for cross-engine equality
    (see q_asof_join); right side pre-deduped per (user, ts). The plan
    is the reversed-sort running carry — one shuffle on user_id, linear
    per key, no join at all."""
    from ..operators.asof import asof_join_forward
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000"))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts_us",
                      F.col("event_id").alias("click_id")))
    buys = (e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts_us")
            .agg(F.min("event_id").alias("purchase_id")))
    out = asof_join_forward(clicks, buys, on="user_id", ts="ts_us",
                            value_cols=["purchase_id"],
                            tolerance=_ASOF_TOL_US)
    return out.select("user_id", "click_id",
                      F.col("ts_us").alias("click_ts_us"),
                      F.col("purchase_id").alias("next_purchase_id"))


ORACLE_ASOF_TOL = f"""
WITH l AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, epoch_us(ts) AS ts, min(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.user_id, l.click_id, l.ts AS click_ts_us,
       (SELECT min_by(r.purchase_id, r.ts) FROM r
        WHERE r.user_id = l.user_id AND r.ts >= l.ts
          AND r.ts <= l.ts + {_ASOF_TOL_US}) AS next_purchase_id
FROM l
"""


# ---------------------------------------------------------------------------
# pii_scrub — PII masking + per-class counts
# ---------------------------------------------------------------------------

# RE2- and Java-compatible patterns (no backrefs, no lookaround)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the mandatory scrub stage of any training-data
    pipeline: count then mask emails/phones/IPs per document. The
    synthetic corpus carries no PII, so deterministic PII is APPENDED
    from doc_id first (same construction in the oracle) — the operator
    under test is the count+mask plan, all JVM regexp (one projection,
    no UDF, no shuffle until nothing: pure map). Output keeps the
    md5 of the scrubbed text, not the text, so the checked frame stays
    narrow."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" reach user"), did.cast("string"),
            F.lit("@mail"), (did % 7).cast("string"),
            F.lit(".example.com"))).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(
            F.lit(" phone +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" host 10."), (did % 256).cast("string"),
            F.lit("."), (did % 100).cast("string"),
            F.lit("."), (did % 50).cast("string"))).otherwise(F.lit("")))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return d.select(
        "doc_id",
        F.regexp_count(text, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(text, F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(text, F.lit(_PII_IP)).alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"))


ORACLE_PII = rf"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id ||
                 '@mail' || (doc_id % 7) || '.example.com' ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' phone +1-555-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || (doc_id % 256) ||
                 '.' || (doc_id % 100) || '.' || (doc_id % 50) ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS scrubbed_md5
FROM aug
"""


# ---------------------------------------------------------------------------
# vocab_drift — per-source token distribution drift (log-odds)
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 40


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top drifting tokens between two corpus halves (sources src0-9 vs
    src10-19) by log-odds ratio with +1 smoothing — the vocabulary-shift
    check run when a new crawl/source lands in a training mix.

    One tokenize+explode scan, one (token, side) partial-agg shuffle,
    a pivot-style conditional agg to (token, a, b), totals as a 1-row
    broadcast cross join, pure-column log-odds, global top-40 —
    TakeOrderedAndProject, never a full sort. Quantized e6; ordering is
    on the QUANTIZED score so the cut is engine-stable."""
    d = _t(spark, sf_dir, "documents")
    side = (F.regexp_extract("source", r"(\d+)", 1).cast("int") < 10)
    toks = tokens("text")
    tf = (d.select(side.alias("in_a"), F.explode(toks).alias("tok"))
          .groupBy("tok")
          .agg(F.count_if(F.col("in_a")).alias("a"),
               F.count_if(~F.col("in_a")).alias("b")))
    tot = tf.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    lo = (F.log((F.col("a") + 1) / (F.col("ta") - F.col("a") + 1))
          - F.log((F.col("b") + 1) / (F.col("tb") - F.col("b") + 1)))
    scored = (tf.crossJoin(F.broadcast(tot))
              .select("tok", F.col("a").alias("n_a"), F.col("b").alias("n_b"),
                      F.round(lo * 1e6).cast("bigint").alias("logodds_e6")))
    return (scored.orderBy(F.abs(F.col("logodds_e6")).desc(), "tok")
            .limit(_DRIFT_TOPK))


ORACLE_VOCAB_DRIFT = rf"""
WITH tok AS (
  SELECT CAST(regexp_extract(source, '(\d+)', 1) AS INT) < 10 AS in_a,
         unnest({tokens_sql()}) AS tok
  FROM documents
), tf AS (
  SELECT tok,
         CAST(count_if(in_a) AS BIGINT) AS a,
         CAST(count_if(NOT in_a) AS BIGINT) AS b
  FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb FROM tf
)
SELECT tok, a AS n_a, b AS n_b,
       CAST(round((ln((a + 1) / CAST(ta - a + 1 AS DOUBLE))
                 - ln((b + 1) / CAST(tb - b + 1 AS DOUBLE))) * 1e6)
            AS BIGINT) AS logodds_e6
FROM tf CROSS JOIN tot
ORDER BY abs(CAST(round((ln((a + 1) / CAST(ta - a + 1 AS DOUBLE))
                 - ln((b + 1) / CAST(tb - b + 1 AS DOUBLE))) * 1e6)
            AS BIGINT)) DESC, tok
LIMIT {_DRIFT_TOPK}
"""


# ---------------------------------------------------------------------------
# grouping_sets_report — explicit GROUPING SETS with grouping flags
# ---------------------------------------------------------------------------


def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) over orders with
    per-column GROUPING flags — the general form rollup/cube are sugar
    for (A4 ext); one shuffle, Spark expands the sets with a single
    Expand node feeding one hash aggregate."""
    o = _t(spark, sf_dir, "orders")
    o.select("o_orderstatus", "o_orderpriority", "o_totalprice") \
        .createOrReplaceTempView("gs_orders")
    return spark.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               GROUPING(o_orderstatus) AS g_status,
               GROUPING(o_orderpriority) AS g_priority,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS sum_cents
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_priority,
       count(*) AS n_orders,
       CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS sum_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


# ---------------------------------------------------------------------------
# scd2_history — slowly-changing-dimension validity intervals
# ---------------------------------------------------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from an event log: per (user, type)
    the value's validity interval [ts, next_ts) via LEAD, open intervals
    null-capped — the standard warehouse history-table construction
    (the reference's upsert-with-history analog of S7/A7 upserts).
    One window sort per key, no join; at scale this is the
    merge-into-history pattern run per ingest batch."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_ns", "event_id")
    return (e.select("user_id", "event_type", "event_id", "ts_ns",
                     F.round(F.col("value") * 1e6).cast("bigint")
                     .alias("value_e6"))
            .select("user_id", "event_type", "value_e6",
                    F.col("ts_ns").alias("valid_from_ns"),
                    F.lead("ts_ns").over(w).alias("valid_to_ns"),
                    (F.lead("ts_ns").over(w).isNull()).alias("is_current")))


ORACLE_SCD2 = """
SELECT user_id, event_type,
       CAST(round(value * 1e6) AS BIGINT) AS value_e6,
       epoch_ns(ts) AS valid_from_ns,
       lead(epoch_ns(ts)) OVER w AS valid_to_ns,
       lead(epoch_ns(ts)) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY epoch_ns(ts), event_id)
"""


# ---------------------------------------------------------------------------
# group_topk_ties — per-group top-k keeping ties (rank, not row_number)
# ---------------------------------------------------------------------------

_TOPK_K = 3


def q_group_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-3 customers by account balance KEEPING ties
    (rank <= k, so a tied 3rd place returns every holder) — the
    tie-faithful variant of W2's per-key LIMIT 1. Integer-cents key so
    tie equality is exact on both engines. One window sort per nation;
    rank predicates pushes into the WindowGroupLimit optimization
    (Spark 3.5+) so each partition stops after the k-th distinct rank —
    no full per-group sort materialization at scale."""
    c = _t(spark, sf_dir, "customer")
    from pyspark.sql import Window
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal_cents").desc())
    return (c.select("c_nationkey", "c_custkey",
                     cents.alias("bal_cents"))
            .withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") <= _TOPK_K)
            .select("c_nationkey", "c_custkey", "bal_cents",
                    F.col("rnk").cast("int").alias("rnk")))


ORACLE_GROUP_TOPK = f"""
WITH ranked AS (
  SELECT c_nationkey, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         CAST(rank() OVER (PARTITION BY c_nationkey
                           ORDER BY CAST(round(c_acctbal * 100) AS BIGINT)
                           DESC) AS INT) AS rnk
  FROM customer
)
SELECT c_nationkey, c_custkey, bal_cents, rnk
FROM ranked WHERE rnk <= {_TOPK_K}
"""


# ---------------------------------------------------------------------------
# mix_plan — temperature-scaled domain mixing weights
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.5  # temperature exponent: 1 = proportional, 0 = uniform


def q_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: per-source sampling weights by
    temperature scaling (w_s ∝ share_s^alpha, the multilingual/domain
    rebalancing rule from the XLM-R / multilingual-BERT lineage), plus
    the implied per-source repeat rate (weight / share — >1e6 means
    upsampling). The expensive part (per-source token totals) is one
    map-side-combined aggregate over the corpus scan; the normalization
    runs over the SOURCE-LEVEL frame, whose cardinality is bounded (20
    here; thousands at worst in a real mix), so the unpartitioned
    normalization window is a deliberate single-partition step over a
    dim-sized frame, never over documents."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(tokens("text"))
    per_src = (d.select("source", toks.alias("n_toks"))
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_toks").alias("n_tokens")))
    from pyspark.sql import Window
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    raw = F.pow(share, F.lit(_MIX_ALPHA))
    weight = raw / F.sum(raw).over(w)
    return per_src.select(
        "source", "n_docs", "n_tokens",
        F.round(share * 1e6).cast("bigint").alias("share_e6"),
        F.round(weight * 1e6).cast("bigint").alias("weight_e6"),
        F.round(weight / share * 1e6).cast("bigint").alias("rate_e6"))


ORACLE_MIX_PLAN = rf"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({tokens_sql()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), shared AS (
  SELECT *, n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share
  FROM per_src
), weighted AS (
  SELECT *, pow(share, {_MIX_ALPHA})
            / sum(pow(share, {_MIX_ALPHA})) OVER () AS weight
  FROM shared
)
SELECT source, n_docs, n_tokens,
       CAST(round(share * 1e6) AS BIGINT) AS share_e6,
       CAST(round(weight * 1e6) AS BIGINT) AS weight_e6,
       CAST(round(weight / share * 1e6) AS BIGINT) AS rate_e6
FROM weighted
"""


# ---------------------------------------------------------------------------
# token_histogram — log2-bucketed document length distribution
# ---------------------------------------------------------------------------


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram in power-of-two buckets — the standard
    before/after-filter report of a data pipeline. Pure projection +
    one tiny aggregate; floor(log2(n)) is exact on engine-identical
    IEEE doubles for the only boundary cases (powers of two)."""
    d = _t(spark, sf_dir, "documents")
    n = F.size(tokens("text"))
    b = F.floor(F.log2(F.greatest(n, F.lit(1)))).cast("int")
    return (d.select(b.alias("bucket"), n.alias("n_toks"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_toks").alias("sum_tokens"),
                 F.min("n_toks").alias("min_tokens"),
                 F.max("n_toks").alias("max_tokens"))
            .select(F.expr("CAST(shiftleft(1L, bucket) AS BIGINT)")
                    .alias("bucket_lo"),
                    "n_docs", "sum_tokens", "min_tokens", "max_tokens"))


ORACLE_TOKEN_HIST = rf"""
WITH n AS (
  SELECT len({tokens_sql()}) AS n_toks
  FROM documents
), b AS (
  SELECT CAST(floor(log2(greatest(n_toks, 1))) AS INT) AS bucket, n_toks
  FROM n
)
SELECT CAST(1 << bucket AS BIGINT) AS bucket_lo,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
       CAST(min(n_toks) AS INT) AS min_tokens,
       CAST(max(n_toks) AS INT) AS max_tokens
FROM b GROUP BY 1
"""


# ---------------------------------------------------------------------------
# quality_calibration — decile calibration of a quality proxy
# ---------------------------------------------------------------------------


_QC_BAND = 8192  # distinct ttr_e6 values per prefix-sum band


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration table of a quality proxy (type-token ratio)
    — the report run before picking a quality threshold for a
    training cut. Deciles are VALUE-based: every row with score v
    lands in decile ceil(10 * cdf(v)), where cdf is the inclusive
    cumulative row fraction at v. Equal scores always share a decile
    (no arbitrary tie-splitting, so the report is deterministic and
    partition-invariant), and decile sizes are n/10 up to tie mass.

    Scale shape: rows collapse to per-score counts first, and the
    score domain is CAPPED BY THE e6 QUANTIZATION at 1e6+1 distinct
    values regardless of corpus size — every window here runs on that
    bounded table, never on corpus rows, and even those windows are
    the two-level band decomposition (8192-value bands + a tiny band
    prefix) rather than one global sort. The total count is a 1-row
    broadcast. Replaces the previous global ntile(10) over all rows —
    the single-partition-window trap flagged in round 7.
    """
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    base = (d.select("doc_id", toks.alias("toks"))
            .select("doc_id",
                    F.size("toks").alias("n_toks"),
                    F.round(F.size(F.array_distinct("toks"))
                            / F.greatest(F.size("toks"), F.lit(1)) * 1e6)
                    .cast("bigint").alias("ttr_e6")))
    vals = (base.groupBy("ttr_e6")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("n_toks").alias("toks"))
            .withColumn("b", F.expr(f"ttr_e6 div {_QC_BAND}")))
    w_in = (Window.partitionBy("b").orderBy("ttr_e6")
            .rowsBetween(Window.unboundedPreceding, 0))
    local = vals.withColumn("cum_in", F.sum("cnt").over(w_in))
    bsum = vals.groupBy("b").agg(F.sum("cnt").alias("bc"))
    w_b = (Window.orderBy("b")
           .rowsBetween(Window.unboundedPreceding, -1))
    prefix = bsum.select("b", F.sum("bc").over(w_b).alias("before"))
    total = vals.agg(F.sum("cnt").alias("n"))
    cum = F.col("cum_in") + F.coalesce(F.col("before"), F.lit(0))
    dec = F.expr("(cum * 10 - 1) div n + 1")  # = ceil(10*cum/n), cum>=1
    return (local.join(F.broadcast(prefix), "b")
            .crossJoin(F.broadcast(total))
            .select("ttr_e6", "cnt", "toks", cum.alias("cum"), "n")
            .select(dec.alias("decile"), "ttr_e6", "cnt", "toks")
            .groupBy("decile")
            .agg(F.sum("cnt").alias("n_docs"),
                 F.min("ttr_e6").alias("ttr_lo"),
                 F.max("ttr_e6").alias("ttr_hi"),
                 F.sum("toks").alias("sum_tokens")))


ORACLE_QUALITY_CAL = rf"""
WITH base AS (
  SELECT doc_id,
         len(toks) AS n_toks,
         CAST(round(len(list_distinct(toks))
                    / CAST(greatest(len(toks), 1) AS DOUBLE) * 1e6)
              AS BIGINT) AS ttr_e6
  FROM (SELECT doc_id,
               {tokens_sql()} AS toks
        FROM documents)
), vals AS (
  SELECT ttr_e6, count(*) AS cnt, sum(n_toks) AS toks
  FROM base GROUP BY 1
), cum AS (
  SELECT ttr_e6, cnt, toks,
         CAST(sum(cnt) OVER (ORDER BY ttr_e6
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS c,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM vals
)
SELECT CAST((c * 10 - 1) // n + 1 AS INT) AS decile,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       min(ttr_e6) AS ttr_lo, max(ttr_e6) AS ttr_hi,
       CAST(sum(toks) AS BIGINT) AS sum_tokens
FROM cum GROUP BY 1
"""


QUERIES_EXT4.update({
    "graph_motif_wedge": q_graph_motif_wedge,
    "graph_motif_path": q_graph_motif_path,
    "asof_tolerance": q_asof_tolerance,
    "pii_scrub": q_pii_scrub,
    "vocab_drift": q_vocab_drift,
    "grouping_sets_report": q_grouping_sets_report,
    "scd2_history": q_scd2_history,
    "group_topk_ties": q_group_topk_ties,
    "mix_plan": q_mix_plan,
    "token_histogram": q_token_histogram,
    "quality_calibration": q_quality_calibration,
})

ORACLE_EXT4.update({
    "graph_motif_wedge": ORACLE_MOTIF_WEDGE,
    "graph_motif_path": ORACLE_MOTIF_PATH,
    "asof_tolerance": ORACLE_ASOF_TOL,
    "pii_scrub": ORACLE_PII,
    "vocab_drift": ORACLE_VOCAB_DRIFT,
    "grouping_sets_report": ORACLE_GROUPING_SETS,
    "scd2_history": ORACLE_SCD2,
    "group_topk_ties": ORACLE_GROUP_TOPK,
    "mix_plan": ORACLE_MIX_PLAN,
    "token_histogram": ORACLE_TOKEN_HIST,
    "quality_calibration": ORACLE_QUALITY_CAL,
})
