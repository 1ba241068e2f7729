"""The engine's query catalog: every operator from SURVEY.md §2 expressed on
the driver test tables, each with a DuckDB oracle twin.

Conventions that keep the cross-engine value-hash stable:
- Money/measure sums go through DECIMAL(18,2) then cast back to DOUBLE —
  exact arithmetic, identical bits in both engines.
- Counts are count()/count-if (BIGINT in both), never SUM(int) (DuckDB
  widens SUM to HUGEINT).
- Derived integers are cast to BIGINT on both sides.
- Float similarity scores are either exact rational divisions (int/int) or
  excluded from checked output (ANN returns ranks, not sims).
- Timestamps in checked output are formatted to 'yyyy-MM-dd HH:mm:ss'
  strings (session timezone pinned to UTC).
- Every computed column is aliased identically in the Spark plan and the
  SQL string.

Each query function takes (spark, sf_dir) and returns a lazy DataFrame; the
oracle SQL assumes views named region nation customer supplier part orders
lineitem events documents embeddings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.doi import normalize_doi, valid_doi
from ..functions.names import levenshtein_ratio
from ..operators.ann import brute_force_topk, lsh_topk
from ..operators.dedup import (
    exact_dedup, jaccard_pairs, minhash_lsh_pairs, minhash_signatures,
)
from ..operators.exists import existence_probe
from ..operators.metrics import dup_detect
from ..operators.theta import contains_tag, range_bucket_join
from ..operators.upsert import upsert
from ..operators.window_ops import group_top1, keep_first
from ..operators import textstats as TS


def _ensure_conf(spark: SparkSession) -> None:
    """Pin runtime-settable configs on the session actually executing the
    queries (the driver hands us its own session — getOrCreate in
    session.get_spark silently ignores builder configs when a session
    already exists, so set them here on every entry path).

    - session.timeZone=UTC: timestamp formatting identical to the naive
      DuckDB reading, on any harness host timezone.
    - legacy.parquet.nanosAsLong: events.parquet is TIMESTAMP(NANOS) which
      Spark 4 refuses natively (PARQUET_TYPE_ILLEGAL); with the flag the
      column arrives as int64 nanoseconds — exact, no precision loss.
    - AQE + skew join: runtime re-planning posture for scale.
    """
    if getattr(spark, "_rib_conf_done", False):
        return
    failed = []
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # Test-SF split sizing: at the default 128m maxPartitionBytes every
        # table here is ONE input split (sf0.1 lineitem is ~40 MB), so the
        # scan side of every query runs on one core. A small split size
        # reproduces the multi-split shape production data has naturally —
        # but ONLY under the bench/test harness (round-3 ADVICE: pinning it
        # unconditionally would inflate task counts ~8x at 100 TB and leak
        # into every other query on the session). bench.py and tests/ set
        # RIB_TEST_SPLIT_MB; production sessions keep Spark's default.
        *(() if not os.environ.get("RIB_TEST_SPLIT_MB") else
          (("spark.sql.files.maxPartitionBytes",
            os.environ["RIB_TEST_SPLIT_MB"] + "m"),)),
    ):
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # non-runtime-settable on some builds
            failed.append(f"{k}: {exc}")
    if failed:
        # never fail a query over a conf — but leave a breadcrumb: a
        # silently-missing nanosAsLong turns into five failing event
        # queries with no visible cause (round-2 VERDICT note)
        import warnings
        warnings.warn("non-settable Spark confs (queries may misbehave): "
                      + "; ".join(failed), RuntimeWarning, stacklevel=2)
    spark._rib_conf_done = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # These land as ONE small parquet file -> one input split -> every
        # downstream expression (shingling, minhash, cosine) runs on a
        # single core. At 100 TB scans split naturally; at test SF the
        # parallelism must not be hostage to file count — a 5k-row
        # repartition is microseconds and unlocks all 32 cores. Hash- and
        # row-identical: every checked query is order-insensitive.
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events":
        # ts usually arrives as int64 nanos (nanosAsLong). Keep the exact
        # nanos as ts_ns for ordering/gap math (bit-identical to DuckDB
        # epoch_ns) and derive a micros timestamp for window bucketing —
        # bucket boundaries are whole seconds, so the floor-to-micros
        # truncation can never move an event across a bucket edge. Some
        # dataset builds store ts as a parquet timestamp instead (observed:
        # sf0.001 lands TIMESTAMP_NTZ); normalize that to the same pair.
        if dict(df.dtypes)["ts"] == "bigint":
            df = (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
            )
        else:
            df = df.withColumn(
                "ts_ns",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000).cast("long"),
            ).withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Flagship: containment theta join + anti-join (SURVEY §2 J6+J7)
# ---------------------------------------------------------------------------

def q_flagship_contains_tag(spark, sf_dir):
    """Tag documents with every part-name word they contain, excluding
    already-tagged pairs — the refers_to country-tagging plan
    (reference create_graph.py:244-258) on the test corpus.
    Physical plan: BroadcastNestedLoopJoin (word dim broadcast) + left_anti.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = (
        _t(spark, sf_dir, "part")
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .filter(F.length("word") >= 4)
        .distinct()
    )
    existing = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.lit("small").alias("word"))
    )
    tagged = contains_tag(docs, words, "text", "word", existing=None)
    out = tagged.join(existing, ["doc_id", "word"], "left_anti")
    return out.select("doc_id", "word")


ORACLE_FLAGSHIP = """
WITH words AS (
  SELECT DISTINCT w AS word
  FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
  WHERE length(w) >= 4
),
existing AS (
  SELECT doc_id, 'small' AS word FROM documents WHERE doc_id % 10 = 0
)
SELECT d.doc_id, w.word
FROM documents d, words w
WHERE contains(lower(d.text), lower(w.word))
  AND NOT EXISTS (SELECT 1 FROM existing e
                  WHERE e.doc_id = d.doc_id AND e.word = w.word)
"""


# ---------------------------------------------------------------------------
# J1: batched existence probe
# ---------------------------------------------------------------------------

def q_existence_probe(spark, sf_dir):
    """UNWIND $keys OPTIONAL MATCH ... COUNT(o) > 0 (reference
    doi.py:151-191) as a left join + grouped count."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return existence_probe(customer, orders, "c_custkey", "has_orders")


ORACLE_EXISTENCE = """
SELECT c.c_custkey, count(o.o_custkey) > 0 AS has_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


# ---------------------------------------------------------------------------
# P1/P2: DOI normalize + regex validity partition
# ---------------------------------------------------------------------------

def q_regex_filter(spark, sf_dir):
    """Dirty DOI synthesis + the reference's normalize (doi.py:97-103) and
    crossref-pattern validation (doi.py:31). Spark keeps the exact
    lookahead pattern (Java regex); the oracle decomposes it for RE2."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    raw = (
        F.when(k % 4 == 0, F.concat(F.lit("https://doi.org/10.5281/zenodo."),
                                    k.cast("string")))
        .when(k % 4 == 1, F.concat(F.lit("  10.5281/zenodo."),
                                   k.cast("string"), F.lit("  ")))
        .when(k % 4 == 2, F.concat(F.lit("doi.org/10.5281/zenodo."),
                                   k.cast("string"), F.lit(".")))
        .otherwise(F.lit("10.5281/zenodo"))
    )
    df = o.withColumn("doi_raw", raw)
    df = df.withColumn("doi", normalize_doi("doi_raw"))
    return df.select("o_orderkey", "doi", valid_doi("doi").alias("valid"))


ORACLE_REGEX = r"""
WITH raw AS (
  SELECT o_orderkey,
    CASE
      WHEN o_orderkey % 4 = 0 THEN 'https://doi.org/10.5281/zenodo.' || CAST(o_orderkey AS VARCHAR)
      WHEN o_orderkey % 4 = 1 THEN '  10.5281/zenodo.' || CAST(o_orderkey AS VARCHAR) || '  '
      WHEN o_orderkey % 4 = 2 THEN 'doi.org/10.5281/zenodo.' || CAST(o_orderkey AS VARCHAR) || '.'
      ELSE '10.5281/zenodo'
    END AS doi_raw
  FROM orders
),
norm AS (
  SELECT o_orderkey,
    regexp_replace(regexp_replace(regexp_replace(trim(doi_raw),
      '\.+$', '', 'g'),
      'https://doi\.org/', '', 'g'),
      'doi\.org/', '', 'g') AS doi
  FROM raw
)
SELECT o_orderkey, doi,
  regexp_matches(doi, '10\.\d{4,9}/[-._;()/:A-Z0-9]*\d[-._;()/:A-Z0-9]*$', 'i') AS valid
FROM norm
"""


# ---------------------------------------------------------------------------
# P3/O1/O2: ordered limit
# ---------------------------------------------------------------------------

def q_limit_head(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


ORACLE_LIMIT = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# ---------------------------------------------------------------------------
# J3/J4: equi-join on a derived (computed) key
# ---------------------------------------------------------------------------

def q_derived_key_join(spark, sf_dir):
    """Join on a key computed from a string column — the reference's
    first_name+' '+last_name / left(first,1) match keys (models.py:56,
    create_graph_from_doi.py:59) shaped onto customer names."""
    cust = _t(spark, sf_dir, "customer").select(
        F.substring(F.col("c_name"), 10, 9).cast("bigint").alias("derived_key"))
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.derived_key)
        .groupBy("derived_key")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("total_spend"))
    )


ORACLE_DERIVED_KEY = """
WITH cust AS (
  SELECT CAST(substring(c_name, 10, 9) AS BIGINT) AS derived_key FROM customer
)
SELECT derived_key, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders JOIN cust ON o_custkey = derived_key
GROUP BY derived_key
"""


# ---------------------------------------------------------------------------
# X1: semi/anti split
# ---------------------------------------------------------------------------

def q_anti_semi_split(spark, sf_dir):
    """Customers with no orders (left_anti) — the new-vs-existing DOI split
    (reference doi.py:175-180)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return cust.join(orders, "c_custkey", "left_anti") \
               .select("c_custkey", "c_name", "c_acctbal")


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# A2: duplicate detection
# ---------------------------------------------------------------------------

def q_dup_detect(spark, sf_dir):
    return dup_detect(_t(spark, sf_dir, "lineitem"), ["l_orderkey"], "n")


ORACLE_DUP = """
SELECT l_orderkey, count(*) AS n FROM lineitem
GROUP BY l_orderkey HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# A3: multi-predicate scorecard (one pass)
# ---------------------------------------------------------------------------

def q_multi_metric_agg(spark, sf_dir):
    """The 14-metric ingestion report (reference doi.py:202-283) as ONE
    aggregation pass — conditional counts, map-side combined."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderpriority").startswith("1"), 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_totalprice") > 100000.0, 1)).alias("n_high_value"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
         .cast("double").alias("sum_price"),
    )


ORACLE_SCORECARD = """
SELECT count(*) AS n_total,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       count(CASE WHEN o_orderpriority LIKE '1%' THEN 1 END) AS n_urgent,
       count(CASE WHEN o_totalprice > 100000.0 THEN 1 END) AS n_high_value,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
"""


# ---------------------------------------------------------------------------
# W2: per-group top-1 (correlated LIMIT 1)
# ---------------------------------------------------------------------------

def q_group_top1(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    top = group_top1(o, ["o_custkey"],
                     [F.col("o_totalprice").desc(), F.col("o_orderkey")])
    return top.select("o_custkey", "o_orderkey", "o_totalprice")


ORACLE_TOP1 = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A6/W3: ordered keep-first dedup
# ---------------------------------------------------------------------------

def q_keep_first_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # order on exact nanos — identical total order to DuckDB's TIMESTAMP_NS
    first = keep_first(e, ["user_id"], [F.col("ts_ns"), F.col("event_id")])
    return first.select("user_id", "event_id", "event_type")


ORACLE_KEEP_FIRST = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A7/J8: upsert (MERGE-by-key)
# ---------------------------------------------------------------------------

def q_upsert_merge(spark, sf_dir):
    """MERGE semantics (reference models.py:165-249): existing keeps
    priority, incoming adds only absent keys."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    existing = o.filter(F.col("o_orderkey") % 2 == 0)
    incoming = o.filter(F.col("o_orderkey") % 3 == 0) \
                .withColumn("o_orderstatus", F.lit("N"))
    return upsert(existing, incoming, ["o_orderkey"])


ORACLE_UPSERT = """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, 'N' AS o_orderstatus FROM orders
WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
"""


def q_upsert_update(spark, sf_dir):
    """mode="update" — the -u update-metadata flag (reference
    create_graph_from_doi.py:282, doi.py:219-224): incoming rows REPLACE
    matching-key existing rows; untouched existing rows survive."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    existing = o.filter(F.col("o_orderkey") % 2 == 0)
    incoming = o.filter(F.col("o_orderkey") % 3 == 0) \
                .withColumn("o_orderstatus", F.lit("N"))
    return upsert(existing, incoming, ["o_orderkey"], mode="update")


ORACLE_UPSERT_UPDATE = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
UNION ALL
SELECT o_orderkey, 'N' AS o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
"""


# ---------------------------------------------------------------------------
# F1/F2/F10: string cleaning + word-order reversal
# ---------------------------------------------------------------------------

def q_string_clean(spark, sf_dir):
    """clean_html's whitespace collapse (utils.py:5-23) + the reversed-name
    key used by the similarity scorer (create_graph_from_doi.py:80-87)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        F.array_join(F.reverse(toks), " ").alias("reversed_text"),
        # try_element_at: an all-whitespace doc filters to an EMPTY token
        # array; DuckDB toks[1] is NULL there, ANSI element_at throws.
        F.try_element_at(toks, F.lit(1)).alias("first_word"),
        F.size(toks).cast("bigint").alias("n_words"),
    )


ORACLE_STRING_CLEAN = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
  FROM documents
)
SELECT doc_id,
       array_to_string(list_reverse(t), ' ') AS reversed_text,
       t[1] AS first_word,
       CAST(len(t) AS BIGINT) AS n_words
FROM toks
"""


# ---------------------------------------------------------------------------
# F8/F9: date decomposition
# ---------------------------------------------------------------------------

def q_date_decompose(spark, sf_dir):
    """ISO date -> (year, month, day) ints (reference parser.py:86-93)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("pub_year"),
        F.month("o_orderdate").cast("bigint").alias("pub_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("pub_day"),
    )


ORACLE_DATE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS pub_year,
       CAST(month(o_orderdate) AS BIGINT) AS pub_month,
       CAST(day(o_orderdate) AS BIGINT) AS pub_day
FROM orders
"""


# ---------------------------------------------------------------------------
# J6 variant: range theta join
# ---------------------------------------------------------------------------

def q_theta_range_check(spark, sf_dir):
    """Non-equi broadcast join: lineitem quantity bucketed into ranges
    derived from the region dim."""
    li = _t(spark, sf_dir, "lineitem")
    ranges = _t(spark, sf_dir, "region").select(
        F.col("r_name").alias("bucket"),
        (F.col("r_regionkey") * 10.0).alias("lo"),
        (F.col("r_regionkey") * 10.0 + 10.0).alias("hi"),
    )
    joined = range_bucket_join(li, ranges, "l_quantity")
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
         .cast("double").alias("sum_qty"),
    )


ORACLE_RANGE = """
WITH ranges AS (
  SELECT r_name AS bucket, r_regionkey * 10.0 AS lo, r_regionkey * 10.0 + 10.0 AS hi
  FROM region
)
SELECT bucket, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN ranges ON l_quantity >= lo AND l_quantity < hi
GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# J5: blocked similarity join (levenshtein-ratio oracle variant)
# ---------------------------------------------------------------------------

def q_similarity_join(spark, sf_dir):
    """Candidate pairs via blocking key (custkey div 100) then similarity
    scoring — the fuzzy author match (create_graph_from_doi.py:68-101) with
    the oracle-expressible levenshtein ratio; the exact-difflib variant is
    operators.similarity_join(exact=True) (no SQL twin)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a = c.select(F.expr("c_custkey div 100").alias("blk"),
                 F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.expr("c_custkey div 100").alias("blk"),
                 F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn(
        "sim", levenshtein_ratio(F.col("name_a"), F.col("name_b")))
    return scored.filter(F.col("sim") >= 0.94).select("id_a", "id_b", "sim")


ORACLE_SIMILARITY = """
WITH c AS (SELECT c_custkey // 100 AS blk, c_custkey AS id, c_name AS name
           FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       1.0 - CAST(levenshtein(lower(trim(a.name)), lower(trim(b.name))) AS DOUBLE)
             / greatest(length(lower(trim(a.name))), length(lower(trim(b.name)))) AS sim
FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
WHERE 1.0 - CAST(levenshtein(lower(trim(a.name)), lower(trim(b.name))) AS DOUBLE)
      / greatest(length(lower(trim(a.name))), length(lower(trim(b.name)))) >= 0.94
"""


# ---------------------------------------------------------------------------
# A4: group-by count report
# ---------------------------------------------------------------------------

def q_groupby_count_report(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_GROUPBY = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------------------
# Streaming-shaped (batch-expressed): tumbling / sliding / session windows
# ---------------------------------------------------------------------------

def q_windowed_events(spark, sf_dir):
    """Tumbling 1h window counts over events — batch expression of the
    streaming extension (SURVEY §2.9); the streaming twin lives in
    streaming/windows.py."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)"))
              .cast("double").alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )


ORACLE_WINDOWED = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sliding_windows(spark, sf_dir):
    """Sliding windows (1h window, 30m slide): each event lands in exactly
    two windows."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "n_events")
    )


ORACLE_SLIDING = """
WITH starts AS (
  -- integer nanos -> naive timestamp via make_timestamp(micros): no
  -- to_timestamp()/TIMESTAMPTZ, so the hash is stable on any host tz
  SELECT make_timestamp((epoch_ns(ts) // 1800000000000) * 1800000000) AS s FROM events
  UNION ALL
  SELECT make_timestamp(((epoch_ns(ts) // 1800000000000) - 1) * 1800000000) FROM events
)
SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
FROM starts GROUP BY 1
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    session ids — the batch twin of F.session_window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # gap math in exact int64 nanos — no float rounding at the 30-min edge
    gap = F.col("ts_ns") - F.lag("ts_ns").over(w)
    e = e.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > F.lit(1800 * 10**9)), 1).otherwise(0))
    e = e.withColumn("session_id",
                     F.sum("is_new").over(
                         w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        e.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_SESSION = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap IS NULL OR gap > 1800000000000 THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sessions AS (
  SELECT user_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Dedup suite (LLM-pipeline operators)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.lower(F.col("p_type")).alias("txt"))
    return exact_dedup(p, "txt", "p_partkey")


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(p_type)) AS fp, min(p_partkey) AS canonical_id,
       count(*) AS n_dups
FROM part GROUP BY 1 HAVING count(*) > 1
"""


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.fingerprint("text").alias("fp"))


ORACLE_FP = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""


def q_doc_winnow(spark, sf_dir):
    """Winnowing (rolling k-gram hash + window-min) fingerprints — the
    positional near-dup fingerprint family (operators.dedup.
    winnow_fingerprints; k=5, w=4)."""
    from ..operators.dedup import winnow_fingerprints
    return (winnow_fingerprints(_t(spark, sf_dir, "documents"),
                                "text", "doc_id", k=5, w=4)
            .select(F.col("id").cast("bigint").alias("doc_id"), "fp"))


ORACLE_WINNOW = """
WITH grams AS (
  SELECT doc_id AS id, pos,
         CAST(('0x' || substr(md5(lower(substr(text, pos, 5))), 1, 15))
              AS BIGINT) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 4, 0))) AS pos
        FROM documents)
),
win AS (
  SELECT id, pos,
         min(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         max(pos) OVER (PARTITION BY id) AS mx
  FROM grams
)
SELECT DISTINCT CAST(id AS BIGINT) AS doc_id, wmin AS fp
FROM win WHERE pos <= mx - 3
"""


def q_dedup_minhash_sigs(spark, sf_dir):
    return minhash_signatures(_t(spark, sf_dir, "documents"), "text", "doc_id", k=4)


def _oracle_minhash_cte(k: int = 4) -> str:
    mins = ",\n       ".join(
        f"min(md5('{i}:' || tok)) AS mh{i}" for i in range(k))
    return rf"""
WITH tok AS (
  SELECT DISTINCT id, tok FROM (
    SELECT doc_id AS id, unnest({TS.tokens_sql()}) AS tok FROM documents)
),
sig AS (
  SELECT id, {mins}
  FROM tok GROUP BY id
)
"""


ORACLE_MINHASH = _oracle_minhash_cte(4) + "SELECT * FROM sig"


LSH_BUCKET_CAP = 64  # hot-bucket guard: a b-member bucket emits b(b-1)/2
# pairs — the sf0.1 corpus has 3000+-member buckets (5M pairs in ONE task);
# over-full buckets are non-discriminative signatures, excluded before
# pairing (mirrored in the oracle; the star-edge/components path still
# covers their connectivity linearly)


def q_dedup_lsh_pairs(spark, sf_dir):
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                             k=4, bands=2, max_bucket_size=LSH_BUCKET_CAP)


ORACLE_LSH = _oracle_minhash_cte(4) + f"""
, buckets AS (
  SELECT id, 0 AS band, md5(mh0 || '|' || mh1) AS bucket FROM sig
  UNION ALL
  SELECT id, 1 AS band, md5(mh2 || '|' || mh3) AS bucket FROM sig
),
ok AS (
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket HAVING count(*) <= {LSH_BUCKET_CAP}
),
capped AS (SELECT b.* FROM buckets b JOIN ok USING (band, bucket))
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
"""


def q_dedup_jaccard(spark, sf_dir):
    """Jaccard verify join WITH the stop-token guard on: tokens appearing in
    more than max_token_df docs are excluded from the inverted index (their
    df(token)^2 join cost dominates at scale). Set sizes stay full-set, so
    the guard only ever under-scores a pair — safe for >= threshold dedup."""
    return jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                         threshold=0.8, max_token_df=400)


ORACLE_JACCARD = rf"""
WITH tok AS (
  SELECT DISTINCT id, tok FROM (
    SELECT doc_id AS id, unnest({TS.tokens_sql()}) AS tok FROM documents)
),
sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
rare AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) <= 400),
rtok AS (SELECT id, t.tok FROM tok t JOIN rare r ON t.tok = r.tok),
co AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM rtok a JOIN rtok b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter / (sa.sz + sb.sz - inter) AS jaccard
FROM co
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
"""


NGRAM_DF_CAP = 100  # shingle df cap: sum(df^2) over uncapped shingles is
# quadratic in corpus size (cap 400 measured 92M pair-increments at sf0.1
# vs 311k at cap 100); Jaccard runs over the filtered feature space


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Character-5-gram (shingle) Jaccard near-dup join — order-robust
    (word swaps barely move the shingle set). Inverted-index plan over the
    DISCRIMINATIVE shingle space: ubiquitous n-grams are df-capped out and
    sizes come from the capped sets (see ngram_jaccard_pairs)."""
    from ..operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text",
                               "doc_id", n=5, threshold=0.8,
                               max_token_df=NGRAM_DF_CAP)


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, s AS tok FROM (
    SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(length(text) - 4, 0)),
        i -> lower(substr(text, i, 5)))) AS s
    FROM documents)
),
rare AS (SELECT tok FROM sh GROUP BY tok HAVING count(*) <= {NGRAM_DF_CAP}),
rtok AS (SELECT id, t.tok FROM sh t JOIN rare r ON t.tok = r.tok),
sizes AS (SELECT id, count(*) AS sz FROM rtok GROUP BY id),
co AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM rtok a JOIN rtok b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter / (sa.sz + sb.sz - inter) AS jaccard
FROM co
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: per-LSH-bucket self-join, cosine
    quantized to e6 BEFORE thresholding (bit-stable membership across
    engines). The synthetic embeddings are near-orthogonal (max cosine
    ~0.45), so the threshold sits at 0.30 to exercise the plan.
    The hot-bucket guard is ACTIVE and corpus-relative (mirrored in the
    oracle's HAVING): cap = greatest(100, N div 4). A fixed cap
    mis-scales — with 16 buckets the average bucket holds N/16, so any
    constant eventually excludes every bucket (cap=100 at sf0.1 left
    zero candidates and the bench measured pure overhead).

    Bit count is CORPUS-SIZED (adaptive_lsh_bits: ceil(log2(N/125)),
    floor 4): a fixed bit count lets bucket sizes grow with N and the
    self-join go quadratic — the 10x probe measured 13.6x wall for 10x
    data before this landed (BENCH_HISTORY r7). At the oracle-checked
    SFs N<=2000 sizes to 4 bits, so the SQL twin's plane set is
    unchanged; plan-build sizing reads the parquet-footer stats
    sidecar (sources/stats.py) — no Spark job."""
    from ..operators.dedup import adaptive_lsh_bits, embedding_near_dup_pairs
    from ..sources.stats import table_rowcount_or_count
    emb = _t(spark, sf_dir, "embeddings")
    n_rows = table_rowcount_or_count(sf_dir, "embeddings", emb, "vec_id")
    bits = adaptive_lsh_bits(n_rows)
    return embedding_near_dup_pairs(emb, threshold_e6=300_000, n_bits=bits,
                                    max_bucket_size=100,
                                    max_bucket_denom=4)


# the cosine is spelled out as a DOUBLE left-fold (not DuckDB's
# list_cosine_similarity, which computes in float32 on FLOAT[] inputs and
# differs from Spark's double math by an ulp — enough to flip an e6 digit):
# fold order matches F.aggregate(zip_with(...)) exactly, so the doubles are
# bit-identical before quantization.
_DOT_D = ("list_reduce(list_transform(generate_series(1, len({a})), "
          "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
          "(x, y) -> x + y)")
_NORM_D = ("sqrt(list_reduce(list_transform({a}, "
           "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))")

ORACLE_DEDUP_EMBEDDING = f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
ok AS (SELECT bucket FROM bucketed GROUP BY bucket
       HAVING count(*) <= greatest(100, (SELECT count(*) FROM embeddings) // 4)),
capped AS (SELECT b.* FROM bucketed b JOIN ok USING (bucket)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(round(
           {_DOT_D.format(a='a.embedding', b='b.embedding')}
           / ({_NORM_D.format(a='a.embedding')}
              * {_NORM_D.format(a='b.embedding')}) * 1e6) AS BIGINT) AS sim_e6
  FROM capped a JOIN capped b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim_e6 FROM pairs WHERE sim_e6 >= 300000
"""


# ---------------------------------------------------------------------------
# ANN similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for 5 query vectors. Checked output is
    rank-only (float sims excluded from the hash)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"))


ORACLE_ANN = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.embedding, q.qv) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(sim, 9) DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN: equi-join on bucket instead of cross join —
    the 100 TB-scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, queries, k=5, n_bits=4).select(
        "query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"))


ORACLE_ANN_LSH = """
WITH bucketed AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bucketed WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.embedding, q.qv) AS sim
  FROM bucketed e JOIN q ON e.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(sim, 9) DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: nearest-centroid inverted lists + nprobe=2 probing
    (operators.ann.ivf_topk). Seed-sample coarse quantizer (8 lowest-id
    vectors) keeps it oracle-checkable; the plan — assign once, probe few,
    brute-force within lists — is the FAISS-style scale path."""
    from ..operators.ann import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2).select(
        "query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"))


def _cos_d(a: str, b: str) -> str:
    """Double left-fold cosine between two embedding column refs (see the
    _DOT_D note: DuckDB's list_cosine_similarity is float32)."""
    return (f"{_DOT_D.format(a=a, b=b)}"
            f" / ({_NORM_D.format(a=a)} * {_NORM_D.format(a=b)})")


ORACLE_ANN_IVF = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY vec_id LIMIT 8
),
assign AS (
  SELECT id, cid FROM (
    SELECT e.vec_id AS id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({_cos_d('e.embedding', 'c.cvec')}, 9) DESC,
                                       c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
qprobe AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_cos_d('q.embedding', 'c.cvec')}, 9) DESC,
                                       c.cid) AS rn
    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.id AS neighbor_id,
         {_cos_d('qe.embedding', 'ne.embedding')} AS sim
  FROM qprobe p
  JOIN assign a ON p.cid = a.cid AND a.id <> p.query_id
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ne ON ne.vec_id = a.id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(sim, 9) DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = TS.tokens("text")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        (F.length(F.regexp_replace(c, r"\s+", "")) /
         F.greatest(n_tok, F.lit(1))).alias("mean_word_len"),
        (F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")) /
         F.greatest(F.length(c), F.lit(1))).alias("punct_ratio"),
    )


ORACLE_QUALITY = rf"""
WITH t AS (
  SELECT doc_id, text,
         len({TS.tokens_sql()}) AS n_tok
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       length(regexp_replace(text, '\s+', '', 'g')) / greatest(n_tok, 1) AS mean_word_len,
       length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) / greatest(length(text), 1) AS punct_ratio
FROM t
"""


_SW = "', '".join(TS.EN_STOPWORDS)


def q_quality_filter(spark, sf_dir):
    """Composite quality gate (operators.textstats.quality_score): the
    standard web-corpus keep/drop filter — mean word length in [3,10]
    (0.4), stopword presence (0.3), bounded symbol ratio (0.3); keep at
    score >= 0.7. Scores quantized to e6 ints for cross-engine hashing
    (the addends are double literals summed in the same order on both
    engines, but int output removes the float column entirely)."""
    from ..operators.textstats import quality_score
    qs = quality_score(_t(spark, sf_dir, "documents"), "text", "doc_id")
    # keep derives from the QUANTIZED int (>= 700000 ⟺ quality >= 0.7 —
    # the score is a sum of exact 0.1-multiples), not from `quality`:
    # two consumers of the raw double made CollapseProject inline the
    # whole interpreted scoring tree twice (8.0s -> 5.5s at 10x sf0.1;
    # round() is non-cheap, so the staged projection survives and the
    # tree evaluates once — the remainder is the one-tokenize floor).
    return qs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("quality") * 1e6).cast("bigint").alias("quality_e6"),
    ).withColumn("keep", F.col("quality_e6") >= 700_000)


ORACLE_QUALITY_FILTER = rf"""
WITH t AS (
  SELECT doc_id, text,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok,
         {TS.word_tokens_sql()} AS wt
  FROM documents
),
sig AS (
  SELECT doc_id, n_tok,
         length(regexp_replace(text, '\s+', '', 'g')) / greatest(n_tok, 1) AS mwl,
         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
             / greatest(length(text), 1) AS pr,
         CAST(len(list_filter(wt, x -> x IN ('{_SW}'))) AS DOUBLE)
             / greatest(len(wt), 1) AS swr
  FROM t
),
scored AS (
  SELECT doc_id, n_tok,
         (CASE WHEN mwl >= 3 AND mwl <= 10 THEN CAST(0.4 AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN swr >= 0.01 THEN CAST(0.3 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN pr <= 0.2 THEN CAST(0.3 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END) AS quality
  FROM sig
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(round(quality * 1e6) AS BIGINT) AS quality_e6,
       quality >= 0.7 AS keep
FROM scored
"""


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish pre-tokenizer) + stopword hits
    + heuristic language ID.

    Staged select so the word-token array is built ONCE and every signal
    (count, stopword hits, language ratio) reads the column — the
    inlined form re-ran the interpreted split per consumer (3x) and was
    the 2nd-highest scaler in the 10x probe. ws_tokens counts \\S+ runs
    with regexp_count (no token array needed at all)."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("ws_tokens"),
        TS.word_tokens("text").alias("__wt"),
        TS.bpe_token_count("text").alias("bpe_tokens"),
    ).select(
        "doc_id", "ws_tokens", "bpe_tokens",
        F.size("__wt").alias("word_tokens"),
        F.size(F.filter("__wt", lambda t: t.isin(*TS.EN_STOPWORDS)))
        .alias("stop_hits"),
    )
    return base.select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("word_tokens").cast("bigint").alias("word_tokens"),
        F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        F.col("stop_hits").cast("bigint").alias("stop_hits"),
        F.when(F.col("stop_hits") / F.greatest(F.col("word_tokens"),
                                               F.lit(1)) >= 0.05,
               F.lit("en")).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


ORACLE_TOKEN_STATS = rf"""
WITH t AS (
  SELECT doc_id, text,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
         {TS.word_tokens_sql()} AS wt
  FROM documents
),
s AS (
  SELECT doc_id, ws_tokens,
         len(wt) AS word_tokens,
         len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+'))
             AS bpe_tokens,
         len(list_filter(wt, x -> x IN ('{_SW}'))) AS stop_hits
  FROM t
)
SELECT doc_id,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(word_tokens AS BIGINT) AS word_tokens,
       CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       CASE WHEN CAST(stop_hits AS DOUBLE) / greatest(word_tokens, 1) >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_pred
FROM s
"""


# ---------------------------------------------------------------------------
# Graph-shaped motifs (property-graph parity on the test schema)
# ---------------------------------------------------------------------------

def q_graph_degree(spark, sf_dir):
    """2-hop motif aggregate: (nation)<-[member_of]-(customer)<-[placed]-
    (order)<-[contains]-(lineitem) — degree rollup per nation, the
    member_of/author_of traversal shape."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("l_partkey").alias("n_parts"),
             F.count(F.lit(1)).alias("n_lines"))
    )


ORACLE_GRAPH_DEGREE = """
SELECT n_name, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


TWO_HOP_DEGREE_CAP = 64  # skew guard: hub vertices are excluded, not paired


def q_graph_two_hop(spark, sf_dir):
    """Co-occurrence motif: (s1)-[supplies]->(part)<-[supplies]-(s2) —
    the co-authorship pattern (two author_of edges meeting at an Output).

    Skew guard: the self-join output is quadratic in per-part supplier
    degree, so one hot part melts one task at scale. Parts above
    TWO_HOP_DEGREE_CAP distinct suppliers are excluded before pairing —
    the standard hub-capping move for co-occurrence motifs (a 10k-author
    consortium paper would otherwise emit 50M pairs alone). The cap is
    mirrored in the oracle; at test SF no part reaches it.
    """
    from ..graph.queries import PropertyGraph
    # The distinct edge list feeds the degree agg and both self-join
    # sides, but needs no explicit materialization: Catalyst plans the
    # repeats as ReusedExchange off the distinct's shuffle (verified by
    # A/B: an eager localCheckpoint changes nothing at sf0.1).
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey") \
        .distinct()
    ok_parts = (li.groupBy("l_partkey")
                .agg(F.count(F.lit(1)).alias("__deg"))
                .filter(F.col("__deg") <= TWO_HOP_DEGREE_CAP)
                .select("l_partkey"))
    li = li.join(ok_parts, "l_partkey", "left_semi")
    # Wedge motif via the property-graph compiler (graph/queries.py) —
    # compiles to the identical two-self-join plan the hand-written
    # version produced (asserted in tests/test_graph.py).
    g = PropertyGraph().with_edges("supplies", li,
                                   src="l_suppkey", dst="l_partkey")
    wedge = g.match("(supp_a)-[:supplies]->(l_partkey)<-[:supplies]-(supp_b)")
    return (
        wedge.filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("shared_parts"))
    )


ORACLE_TWO_HOP = f"""
WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
  SELECT l_partkey FROM sp GROUP BY 1 HAVING count(*) <= {TWO_HOP_DEGREE_CAP}
),
sp2 AS (SELECT sp.* FROM sp JOIN ok USING (l_partkey))
SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, count(*) AS shared_parts
FROM sp2 a JOIN sp2 b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
GROUP BY 1, 2
"""


def q_skew_salted_join(spark, sf_dir):
    """operators.skew.salted_join end-to-end: lineitem (skewed big side —
    some orders carry 7 lines) joined to its order dim with the big side
    scattered across 8 salts. The oracle is the PLAIN join: salting must
    be invisible in the result set, which is exactly the property worth
    hash-checking."""
    from ..operators.skew import salted_join
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (_t(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"))
    j = salted_join(li, o, ["l_orderkey"], n_salts=8)
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                  .cast("double").alias("sum_qty")))


ORACLE_SKEW_SALTED = """
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_asof_join(spark, sf_dir):
    """As-of join (operators.asof): each click paired with the user's
    latest view at-or-before it. Event time compared in MICROSECONDS on
    both engines — DuckDB reads TIMESTAMP_NS parquet at micro precision,
    so a nano-precision Spark match key would disagree at sub-micro
    boundaries; ts_ns div 1000 == epoch_us exactly. The right side is
    pre-deduped to one row per (user, ts) (max event_id) so the as-of
    match is deterministic. DuckDB verifies with its native ASOF JOIN."""
    from ..operators.asof import asof_join
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000"))
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts_us",
                      F.col("event_id").alias("click_id")))
    views = (e.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts_us")
             .agg(F.max("event_id").alias("view_id")))
    out = asof_join(clicks, views, on="user_id", ts="ts_us",
                    value_cols=["view_id"])
    return out.select("user_id", "click_id",
                      F.col("ts_us").alias("click_ts_us"),
                      F.col("view_id").alias("last_view_id"))


ORACLE_ASOF = """
WITH l AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT l.user_id, l.click_id, l.ts AS click_ts_us,
       r.view_id AS last_view_id
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# ---------------------------------------------------------------------------
# JSON navigation (F18)
# ---------------------------------------------------------------------------

def q_json_extract(spark, sf_dir):
    """Schema-on-read JSON navigation (reference parser.py:111-143) over the
    events props column."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


ORACLE_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "flagship_contains_tag": q_flagship_contains_tag,
    "existence_probe": q_existence_probe,
    "regex_filter": q_regex_filter,
    "limit_head": q_limit_head,
    "derived_key_join": q_derived_key_join,
    "anti_semi_split": q_anti_semi_split,
    "dup_detect": q_dup_detect,
    "multi_metric_agg": q_multi_metric_agg,
    "group_top1": q_group_top1,
    "keep_first_dedup": q_keep_first_dedup,
    "upsert_merge": q_upsert_merge,
    "upsert_update": q_upsert_update,
    "string_clean": q_string_clean,
    "date_decompose": q_date_decompose,
    "theta_range_check": q_theta_range_check,
    "similarity_join": q_similarity_join,
    "groupby_count_report": q_groupby_count_report,
    "windowed_events": q_windowed_events,
    "sliding_windows": q_sliding_windows,
    "sessionize_events": q_sessionize_events,
    "dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_winnow": q_doc_winnow,
    "dedup_minhash_sigs": q_dedup_minhash_sigs,
    "dedup_lsh_pairs": q_dedup_lsh_pairs,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding": q_dedup_embedding,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "text_quality": q_text_quality,
    "quality_filter": q_quality_filter,
    "token_stats": q_token_stats,
    "graph_degree": q_graph_degree,
    "graph_two_hop": q_graph_two_hop,
    "skew_salted_join": q_skew_salted_join,
    "asof_join": q_asof_join,
    "json_extract": q_json_extract,
}

ORACLE = {
    "flagship_contains_tag": ORACLE_FLAGSHIP,
    "existence_probe": ORACLE_EXISTENCE,
    "regex_filter": ORACLE_REGEX,
    "limit_head": ORACLE_LIMIT,
    "derived_key_join": ORACLE_DERIVED_KEY,
    "anti_semi_split": ORACLE_ANTI,
    "dup_detect": ORACLE_DUP,
    "multi_metric_agg": ORACLE_SCORECARD,
    "group_top1": ORACLE_TOP1,
    "keep_first_dedup": ORACLE_KEEP_FIRST,
    "upsert_merge": ORACLE_UPSERT,
    "upsert_update": ORACLE_UPSERT_UPDATE,
    "string_clean": ORACLE_STRING_CLEAN,
    "date_decompose": ORACLE_DATE,
    "theta_range_check": ORACLE_RANGE,
    "similarity_join": ORACLE_SIMILARITY,
    "groupby_count_report": ORACLE_GROUPBY,
    "windowed_events": ORACLE_WINDOWED,
    "sliding_windows": ORACLE_SLIDING,
    "sessionize_events": ORACLE_SESSION,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "doc_fingerprint": ORACLE_FP,
    "doc_winnow": ORACLE_WINNOW,
    "dedup_minhash_sigs": ORACLE_MINHASH,
    "dedup_lsh_pairs": ORACLE_LSH,
    "dedup_jaccard": ORACLE_JACCARD,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "ann_cosine_topk": ORACLE_ANN,
    "ann_lsh_topk": ORACLE_ANN_LSH,
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "text_quality": ORACLE_QUALITY,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "token_stats": ORACLE_TOKEN_STATS,
    "graph_degree": ORACLE_GRAPH_DEGREE,
    "graph_two_hop": ORACLE_TWO_HOP,
    "skew_salted_join": ORACLE_SKEW_SALTED,
    "asof_join": ORACLE_ASOF,
    "json_extract": ORACLE_JSON,
}
