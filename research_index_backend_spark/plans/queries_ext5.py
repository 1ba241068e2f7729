"""Catalog extension 5 (round 7, second wave). Every entry is
oracle-checked against DuckDB like the rest of the catalog.

Warehouse / timeseries:

  cube_report         full CUBE lattice with GROUPING flags
  ohlc_downsample     hypertable-style hourly OHLC downsample
  median_mode_report  exact median + deterministic mode per group
  markov_transitions  event-type transition matrix (order-1 Markov)
  gapfill_ffill       dense hour spine + locf forward fill
  ewma_report         EWMA smoothing as a sorted fold
  scd/diff family:    table_diff (version reconciliation),
                      ivm_update (incremental view maintenance),
                      cdc_apply (changelog -> snapshot),
                      schema_evolution_merge (unionByName),
                      cascade_delete_audit, table_profile,
                      exact_percentile_rank, sliding_distinct_users,
                      keyset_page

Sketches / probabilistic structures (deterministic by construction, so
they stay oracle-checkable — md5-derived hashes, no RNG):

  kmv_distinct        K-minimum-values distinct-count sketch vs exact
  bloom_probe         Bloom-filter pre-join membership w/ measured FPs
  skew_report         key-frequency Gini/percentile skew diagnosis

Graph / ML:

  graph_bfs_depth     bounded multi-source BFS (Pregel frontier)
  kcore_decompose     k-core peeling with fixpoint early-exit
  graph_ppr           personalized PageRank from a seed set
  kmeans_embed        int-exact 2-round Lloyd's k-means

Training-data pipeline:

  zscore_outliers     per-group standardization + tail flagging
  token_entropy       per-doc Shannon token entropy (sorted fold)
  corr_report         exact-moment Pearson/OLS
  pmi_cooccur         PMI collocation mining
  build_inverted_index  postings + df/cf search-index build
  blocking_quality    record-linkage blocking-scheme report

Cross-engine determinism rules used throughout (see SURVEY 4.4): money
and metric doubles are quantized to integer cents BEFORE aggregation so
sums are exact int64; any genuinely-real-valued reduction (entropy) folds
in sorted key order on both engines; hashes are md5-derived; final
doubles are computed from exact integer inputs with the identical
expression tree, then quantized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import doc_terms, doc_terms_sql, tokens, tokens_sql
from .queries import _t

QUERIES_EXT5: dict = {}
ORACLE_EXT5: dict = {}


# ---------------------------------------------------------------------------
# cube_report — full CUBE lattice with GROUPING flags
# ---------------------------------------------------------------------------


def q_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping-set levels
    in ONE aggregation pass (reference's per-report pandas groupbys are
    one lattice level each — models.py report endpoints).

    Catalyst expands CUBE to a single Expand + hash aggregate: the
    lineitem scan happens once, map-side partial aggs combine before the
    one shuffle, and the 4x row expansion is on the narrow projected
    columns only — at 100 TB the cost is one pass over 2 columns + cents,
    not four passes over the table. Doubles are quantized to cents
    per-row BEFORE the sum so every engine's total is the same int64.
    """
    l = _t(spark, sf_dir, "lineitem")
    base = l.select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"))
    return (base.cube("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("qty_c").alias("sum_qty_c"),
                 F.sum("price_c").alias("sum_price_c"),
                 F.grouping("l_returnflag").cast("int").alias("g_flag"),
                 F.grouping("l_linestatus").cast("int").alias("g_status"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
                    "g_flag", "g_status", "n_rows", "sum_qty_c",
                    "sum_price_c"))


ORACLE_CUBE = """
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# ohlc_downsample — hypertable-style hourly OHLC rollup
# ---------------------------------------------------------------------------


def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly open/high/low/close/volume per event_type — the hypertable
    continuous-aggregate shape (downsample a tick stream into bars).

    Open/close are position-based, so the plan is ONE window sort per
    (type, hour) partition: row_number ascending + the partition count
    picks the first and last tick (rn=1 / rn=n), then conditional
    aggregation collapses the bar. One shuffle on the bucket key, one
    sort, no self-join of first/last subqueries, no second descending
    sort. Values are int cents; ties on ts break by event_id so the bar
    is engine- and partitioning-invariant.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id", "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("bar_ts"),
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"))
    w = Window.partitionBy("event_type", "bar_ts").orderBy("ts", "event_id")
    wall = Window.partitionBy("event_type", "bar_ts")
    ranked = base.select(
        "event_type", "bar_ts", "value_c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"))
    return (ranked.groupBy("event_type", "bar_ts")
            .agg(F.max(F.when(F.col("rn") == 1, F.col("value_c")))
                 .alias("open_c"),
                 F.max("value_c").alias("high_c"),
                 F.min("value_c").alias("low_c"),
                 F.max(F.when(F.col("rn") == F.col("n"), F.col("value_c")))
                 .alias("close_c"),
                 F.count(F.lit(1)).alias("volume")))


ORACLE_OHLC = """
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_ts,
         ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), ranked AS (
  SELECT event_type, bar_ts, value_c,
         row_number() OVER (PARTITION BY event_type, bar_ts
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type, bar_ts) AS n
  FROM base
)
SELECT event_type, bar_ts,
       max(CASE WHEN rn = 1 THEN value_c END) AS open_c,
       max(value_c) AS high_c,
       min(value_c) AS low_c,
       max(CASE WHEN rn = n THEN value_c END) AS close_c,
       count(*) AS volume
FROM ranked GROUP BY event_type, bar_ts
"""


# ---------------------------------------------------------------------------
# median_mode_report — exact median + deterministic mode per group
# ---------------------------------------------------------------------------


def q_median_mode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median and a DETERMINISTIC mode per event
    type. `mode()` ties are engine-arbitrary, so the mode here is
    "smallest value among the most frequent" — a total order, computed
    as count -> row_number, identical everywhere.

    Median runs on int cents (even-count interpolation lands on exact
    .5 halves, bit-identical in any IEEE engine). The mode branch
    reuses the same cents projection; both shuffles are on the 5-row
    group key, and the mode's (type, value) pre-aggregate combines
    map-side so the window only ever sees distinct values per type.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select("event_type",
                    F.round(F.col("value") * 100).cast("bigint")
                    .alias("value_c"))
    med = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.median("value_c").alias("median_c"))
    counts = base.groupBy("event_type", "value_c") \
                 .agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type") \
              .orderBy(F.col("c").desc(), F.col("value_c"))
    mode = counts.select("event_type", "value_c", "c",
                         F.row_number().over(w).alias("rn")) \
                 .filter(F.col("rn") == 1) \
                 .select("event_type", F.col("value_c").alias("mode_c"),
                         F.col("c").alias("mode_n"))
    return med.join(mode, "event_type")


ORACLE_MEDIAN_MODE = """
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), med AS (
  SELECT event_type, count(*) AS n_rows, median(value_c) AS median_c
  FROM base GROUP BY event_type
), counts AS (
  SELECT event_type, value_c, count(*) AS c
  FROM base GROUP BY event_type, value_c
), mode AS (
  SELECT event_type, value_c AS mode_c, c AS mode_n
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY c DESC, value_c) AS rn
        FROM counts)
  WHERE rn = 1
)
SELECT med.event_type, n_rows, median_c, mode_c, mode_n
FROM med JOIN mode USING (event_type)
"""


# ---------------------------------------------------------------------------
# markov_transitions — order-1 event transition matrix
# ---------------------------------------------------------------------------


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts + row-normalized
    probabilities — the order-1 Markov matrix behind session modeling
    and next-event prediction features.

    LEAD over (user_id ORDER BY ts, event_id) is one shuffle on
    user_id; the transition count is a map-side-combinable agg over a
    25-cell key space; the probability divides two exact int64 counts
    in double and floors at 1e-6, so there is no float-sum ordering
    anywhere. At 100 TB the per-user sort is the only real cost and is
    exactly the sessionization shuffle every event pipeline already
    pays — this composes with it for free.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select("user_id", "ts", "event_id", "event_type")
             .withColumn("next_type", F.lead("event_type").over(w))
             .filter(F.col("next_type").isNotNull()))
    counts = pairs.groupBy(F.col("event_type").alias("from_type"),
                           "next_type") \
                  .agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "next_type", "n",
        F.floor(F.col("n") * 1_000_000
                / F.sum("n").over(wrow)).alias("p_e6"))


ORACLE_MARKOV = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), counts AS (
  SELECT from_type, next_type, count(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY from_type, next_type
)
SELECT from_type, next_type, n,
       CAST(floor(n * 1000000.0 / sum(n) OVER (PARTITION BY from_type))
            AS BIGINT) AS p_e6
FROM counts
"""


# ---------------------------------------------------------------------------
# kmv_distinct — K-minimum-values distinct-count sketch
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = float(1 << 32)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group, reported
    next to the exact count so the estimate is auditable.

    HLL/approx_count_distinct is engine-specific and unverifiable; KMV
    with an md5-derived 32-bit hash is fully deterministic, so the
    sketch itself is oracle-checkable: hash each distinct key to
    [0, 2^32), keep the k smallest per group, estimate
    (k-1) * 2^32 / h_k.  At 100 TB the k-smallest is a bounded-state
    per-partition heap that merges associatively — the shuffle carries
    at most k values per (group, partition), never the key set; the
    window formulation here compiles to one sort of the DISTINCT keys,
    which the pre-aggregate has already collapsed map-side.
    """
    l = _t(spark, sf_dir, "lineitem")
    keys = l.select(F.col("l_returnflag").alias("grp"), "l_partkey") \
            .distinct()
    h = F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8),
               16, 10).cast("bigint")
    w = Window.partitionBy("grp").orderBy("h", "l_partkey")
    ranked = keys.select("grp", "l_partkey", h.alias("h")) \
                 .select("grp", "h", F.row_number().over(w).alias("rn"))
    return (ranked.groupBy("grp")
            .agg(F.max(F.when(F.col("rn") == _KMV_K, F.col("h")))
                 .alias("h_k"),
                 F.count(F.lit(1)).alias("n_exact"))
            .select(
                "grp", "n_exact",
                F.when(F.col("h_k").isNull(), F.col("n_exact"))
                .otherwise(F.floor(F.lit((_KMV_K - 1) * _KMV_SPACE)
                                   / F.col("h_k")))
                .cast("bigint").alias("kmv_est"))
            )


ORACLE_KMV = f"""
WITH keys AS (
  SELECT DISTINCT l_returnflag AS grp, l_partkey FROM lineitem
), hashed AS (
  SELECT grp, l_partkey,
         CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM keys
), ranked AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h, l_partkey) AS rn
  FROM hashed
)
SELECT grp, count(*) AS n_exact,
       CAST(coalesce(
           floor({(_KMV_K - 1) * _KMV_SPACE} / max(CASE WHEN rn = {_KMV_K}
                                                        THEN h END)),
           count(*)) AS BIGINT) AS kmv_est
FROM ranked GROUP BY grp
"""


# ---------------------------------------------------------------------------
# bloom_probe — deterministic Bloom-filter pre-join membership
# ---------------------------------------------------------------------------

_BLOOM_M = 4096   # bits
_BLOOM_HASHES = 3
_BLOOM_BUILD_MAX_SIZE = 5   # build set: parts with p_size <= 5


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-join, with its false positives
    MEASURED against the exact semi-join: build a 4096-bit / 3-hash
    filter over the small part subset, probe every distinct lineitem
    partkey through it, and report pass/true/false-positive counts.

    This is the join-pruning structure Spark's runtime row-group bloom
    (spark.sql.optimizer.runtime.bloomFilter) applies implicitly — made
    explicit and deterministic (md5 bit positions, no RNG) so the FP
    rate itself is an oracle-checked quantity. At 100 TB the bit table
    is m distinct positions at most (here <=600 rows, broadcast), the
    probe explodes each key into k=3 rows, and membership is
    "all 3 positions hit" — a broadcast join + count==3, never a
    shuffle of the big side against the build side.
    """
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    js = F.array(*[F.lit(j) for j in range(1, _BLOOM_HASHES + 1)])

    def bitpos(key, j):
        return (F.conv(F.substring(
            F.md5(F.concat_ws("/", j.cast("string"), key.cast("string"))),
            1, 8), 16, 10).cast("bigint") % _BLOOM_M)

    build = p.filter(F.col("p_size") <= _BLOOM_BUILD_MAX_SIZE) \
             .select("p_partkey")
    bits = (build.select(F.explode(js).alias("j"), "p_partkey")
            .select(bitpos(F.col("p_partkey"), F.col("j")).alias("bit"))
            .distinct())

    probe = l.select("l_partkey").distinct()
    probed = (probe.select("l_partkey", F.explode(js).alias("j"))
              .select("l_partkey",
                      bitpos(F.col("l_partkey"), F.col("j")).alias("bit"))
              .join(F.broadcast(bits), "bit")
              .groupBy("l_partkey")
              .agg(F.count(F.lit(1)).alias("hits"))
              .filter(F.col("hits") == _BLOOM_HASHES)
              .select("l_partkey"))

    truth = probe.join(build.withColumnRenamed("p_partkey", "l_partkey"),
                       "l_partkey", "semi")
    n_probe = probe.agg(F.count(F.lit(1)).alias("n_probed"))
    n_pass = probed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    return (n_probe.crossJoin(n_pass).crossJoin(n_true)
            .select("n_probed", "n_bloom_pass", "n_true",
                    (F.col("n_bloom_pass") - F.col("n_true"))
                    .alias("n_false_pos")))


ORACLE_BLOOM = f"""
WITH build AS (
  SELECT p_partkey FROM part WHERE p_size <= {_BLOOM_BUILD_MAX_SIZE}
), bits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '/',
                                             CAST(p_partkey AS VARCHAR))),
                                  1, 8)) AS BIGINT) % {_BLOOM_M} AS bit
  FROM build, generate_series(1, {_BLOOM_HASHES}) t(j)
), probe AS (
  SELECT DISTINCT l_partkey FROM lineitem
), hits AS (
  SELECT l_partkey
  FROM (SELECT p.l_partkey,
               CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '/',
                                        CAST(p.l_partkey AS VARCHAR))),
                                        1, 8)) AS BIGINT) % {_BLOOM_M} AS bit
        FROM probe p, generate_series(1, {_BLOOM_HASHES}) t(j)) x
  WHERE bit IN (SELECT bit FROM bits)
  GROUP BY l_partkey HAVING count(*) = {_BLOOM_HASHES}
), truth AS (
  SELECT l_partkey FROM probe
  WHERE l_partkey IN (SELECT p_partkey FROM build)
)
SELECT (SELECT count(*) FROM probe) AS n_probed,
       (SELECT count(*) FROM hits) AS n_bloom_pass,
       (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM hits) - (SELECT count(*) FROM truth)
         AS n_false_pos
"""


# ---------------------------------------------------------------------------
# zscore_outliers — per-group standardization + tail flag
# ---------------------------------------------------------------------------

_Z_THRESHOLD = 3.0


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score standardization, keeping the z > 3 right
    tail — the anomaly/outlier-flagging primitive.

    Mean and sample stddev come from EXACT sums (n, sum(cents),
    sum(cents^2)) accumulated in 128-bit decimal — the corr_report
    discipline: an int64 s1*s1 would overflow around a 3e9-cent group
    sum, far below the claimed scale — so the per-type stats are
    bit-identical everywhere; z is then one ALL-DOUBLE expression over
    those exact sums (each moment cast to double before any product),
    same tree in both engines. The stats aggregate is 5 rows —
    broadcast back onto the stream, so flagging is a map-only pass over
    events (no window, no second shuffle of the fact table).
    """
    e = _t(spark, sf_dir, "events")
    base = e.select("event_id", "event_type",
                    F.round(F.col("value") * 100).cast("bigint")
                    .alias("value_c"))
    vc_d = F.col("value_c").cast("decimal(18,0)")
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc_d).alias("s1"),
        F.sum(vc_d * vc_d).alias("s2"))
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    z = ((F.col("value_c") - s1d / nd)
         / F.sqrt((s2d - s1d * s1d / nd) / (nd - 1)))
    return (base.join(F.broadcast(stats), "event_type")
            .select("event_id", "event_type", "value_c",
                    F.floor(z * 10_000).alias("z_e4"))
            .filter(F.col("z_e4") > int(_Z_THRESHOLD * 10_000)))


ORACLE_ZSCORE = f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), stats AS (
  SELECT event_type, count(*) AS n, sum(value_c) AS s1,
         sum(value_c * value_c) AS s2
  FROM base GROUP BY event_type
)
SELECT event_id, base.event_type, value_c,
       CAST(floor((value_c - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  / sqrt((CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1))
                  * 10000) AS BIGINT) AS z_e4
FROM base JOIN stats USING (event_type)
WHERE CAST(floor((value_c - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        / (CAST(n AS DOUBLE) - 1))
                 * 10000) AS BIGINT) > {int(_Z_THRESHOLD * 10_000)}
"""


# ---------------------------------------------------------------------------
# token_entropy — per-doc Shannon entropy of the token distribution
# ---------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution —
    low-entropy docs are boilerplate/repetition (the Gopher-style
    quality signal complementing text_repetition's n-gram fractions).

    H = log2(N) - (sum_t c_t*log2(c_t)) / N from exact integer token
    counts. The inner sum is real-valued, so it folds in sorted-token
    order on both engines (F.aggregate over sort_array / list_reduce
    over list(... ORDER BY), same discipline as bm25/lm scores) —
    hash-agg double sums are partition-order-nondeterministic and would
    flap the oracle. One explode + one (doc, token) agg + one per-doc
    agg; everything combines map-side and the output is 3 narrow
    columns.
    """
    d = _t(spark, sf_dir, "documents")
    counts = (doc_terms(d.select("doc_id", tokens("text").alias("toks")))
              .select("doc_id", "term", F.col("tf").alias("c")))
    return (counts.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.sort_array(F.collect_list(F.struct("term", "c")))
                 .alias("cs"))
            .select(
                "doc_id", "n_tokens",
                F.round((F.log2("n_tokens")
                         - F.aggregate(F.col("cs"), F.lit(0.0),
                                       lambda acc, s:
                                       acc + s["c"] * F.log2(s["c"]))
                         / F.col("n_tokens")) * 1e6)
                .cast("bigint").alias("entropy_e6")))


ORACLE_TOKEN_ENTROPY = rf"""
WITH counts AS (SELECT doc_id, term, tf AS c FROM ({doc_terms_sql()}))
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(round((log2(sum(c))
                   - list_reduce(
                       list_prepend(0.0,
                           list(c * log2(c) ORDER BY term)),
                       (acc, v) -> acc + v) / sum(c)) * 1e6) AS BIGINT)
         AS entropy_e6
FROM counts GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# gapfill_ffill — dense time spine + forward-fill (hypertable gapfill)
# ---------------------------------------------------------------------------


def q_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeseries gap-filling: densify the hourly grid over the full
    observed range for every event type, then forward-fill missing
    hours with the last observed hourly average (timescaledb
    time_bucket_gapfill + locf, the resample/ffill of every metrics
    pipeline).

    The spine is generated from a 1-row min/max aggregate (sequence +
    explode — no driver round-trip), crossed with the tiny type dim;
    observations LEFT-join onto it so the fact table is scanned and
    aggregated exactly once; the fill is one last(ignorenulls) running
    window per type. Hour averages are floor(int cents / count) so the
    filled values are engine-exact. Leading hours before a type's first
    observation stay null — same contract as locf.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type", F.date_trunc("hour", "ts").alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"))
    hourly = base.groupBy("event_type", "h").agg(
        F.floor(F.sum("value_c") / F.count(F.lit(1)).cast("double"))
        .cast("bigint").alias("avg_c"))
    bounds = base.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(F.explode(F.sequence(
        "h0", "h1", F.expr("interval 1 hour"))).alias("h"))
    types = base.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    w = Window.partitionBy("event_type").orderBy("h") \
              .rowsBetween(Window.unboundedPreceding, 0)
    return (grid.join(hourly, ["event_type", "h"], "left")
            .select("event_type",
                    F.date_format("h", "yyyy-MM-dd HH:mm:ss")
                    .alias("hour_ts"),
                    F.last("avg_c", ignorenulls=True).over(w)
                    .alias("filled_avg_c"),
                    F.col("avg_c").isNull().alias("is_gap")))


ORACLE_GAPFILL = """
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), hourly AS (
  SELECT event_type, h,
         CAST(floor(sum(value_c) / CAST(count(*) AS DOUBLE)) AS BIGINT)
           AS avg_c
  FROM base GROUP BY event_type, h
), bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM base
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
), grid AS (
  SELECT t.event_type, s.h
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM base) t
)
SELECT g.event_type,
       strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       CAST(last_value(hr.avg_c IGNORE NULLS)
              OVER (PARTITION BY g.event_type ORDER BY g.h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS filled_avg_c,
       hr.avg_c IS NULL AS is_gap
FROM grid g LEFT JOIN hourly hr
  ON g.event_type = hr.event_type AND g.h = hr.h
"""


# ---------------------------------------------------------------------------
# table_diff — two-version reconciliation report
# ---------------------------------------------------------------------------


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-diff reconciliation: FULL OUTER join two table versions
    on the key and classify every key as unchanged / changed / added /
    removed, with a content hash deciding "changed" — the data-eng
    audit step behind every restatement / backfill / CDC validation.

    The "new version" is derived deterministically from orders (keys
    %13==0 deleted, %7==0 repriced +1%, a shifted-key slice appended)
    so both engines construct identical inputs. Plan: one shuffle per
    side on the join key, md5 row hashes compared JVM-side, and the
    classification rolls up to a 4-row report — at scale this is the
    canonical "compare 100 TB against yesterday" shape: co-partitioned
    full-outer + tiny output.
    """
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.md5(F.concat_ws("|", "o_custkey", "o_orderstatus",
                          F.round(F.col("o_totalprice") * 100)
                          .cast("bigint").cast("string")))
        .alias("row_hash"))
    repriced = F.when(F.col("o_orderkey") % 7 == 0,
                      F.round(F.col("o_totalprice") * 100 * 1.01)
                      .cast("bigint"))\
                .otherwise(F.round(F.col("o_totalprice") * 100)
                           .cast("bigint"))
    newv = (o.filter(F.col("o_orderkey") % 13 != 0)
            .select("o_orderkey",
                    F.md5(F.concat_ws("|", "o_custkey", "o_orderstatus",
                                      repriced.cast("string")))
                    .alias("row_hash"))
            .unionAll(
                o.filter(F.col("o_orderkey") % 11 == 0)
                .select((-(F.col("o_orderkey") + 1))
                        .alias("o_orderkey"),
                        F.md5(F.concat_ws(
                            "|", "o_custkey", "o_orderstatus",
                            F.round(F.col("o_totalprice") * 100)
                            .cast("bigint").cast("string")))
                        .alias("row_hash"))))
    j = base.withColumnRenamed("row_hash", "h_old").join(
        newv.withColumnRenamed("row_hash", "h_new"),
        "o_orderkey", "full_outer")
    cls = (F.when(F.col("h_old").isNull(), F.lit("added"))
           .when(F.col("h_new").isNull(), F.lit("removed"))
           .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
           .otherwise(F.lit("changed")))
    return (j.select(cls.alias("diff_class"))
            .groupBy("diff_class").agg(F.count(F.lit(1)).alias("n_keys")))


ORACLE_TABLE_DIFF = """
WITH base AS (
  SELECT o_orderkey,
         md5(concat_ws('|', o_custkey, o_orderstatus,
                       CAST(round(o_totalprice * 100) AS BIGINT)))
           AS h_old
  FROM orders
), newv AS (
  SELECT o_orderkey,
         md5(concat_ws('|', o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(round(o_totalprice * 100 * 1.01) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END))
           AS h_new
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT -(o_orderkey + 1),
         md5(concat_ws('|', o_custkey, o_orderstatus,
                       CAST(round(o_totalprice * 100) AS BIGINT)))
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old = h_new THEN 'unchanged'
            ELSE 'changed' END AS diff_class,
       count(*) AS n_keys
FROM base FULL OUTER JOIN newv USING (o_orderkey)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# kcore_decompose — k-core via fixed-round peeling
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 6


def q_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core membership (k=4) of the symmetrized order-supplier
    bipartite graph by DELTA peeling: drop nodes with degree < k, then
    decrement only the degrees of nodes adjacent to this round's
    removals — the dense-community extraction primitive (spam cliques,
    hub detection).

    Fixed peel rounds (6 — a fixpoint at test SF, asserted in pytest by
    round 6 == round 5 output) keep both engines on the identical
    unrolled recurrence, the same discipline as the PageRank/k-means
    oracles. Unlike the r10 shape (which re-materialized the |E| edge
    list through a DISK_ONLY checkpoint every round — the heaviest
    completing 100x probe at 30.2x / 113.7s), the edge list is now
    checkpointed ONCE, pre-partitioned on dst; each round's only |E|
    work is a probe scan against this round's removed set (AQE
    broadcasts it once the peel front shrinks), and the churning state
    is the |V|-scale degree frame. deg(v) after round i equals v's
    degree in the oracle's induced subgraph e_{i+1} by construction
    (degree minus edges into removed nodes), so the unrolled CTE
    recurrence is matched exactly; nodes that end with zero remaining
    edges are filtered like the oracle's final GROUP BY over e_6 drops
    them.

    BIGINT node ids internally + DISK_ONLY states (the r10 100x-probe
    OOM discipline — see _sym_supplier_edges_i); labels decode only in
    the output projection.
    """
    from pyspark import StorageLevel
    l = _t(spark, sf_dir, "lineitem")
    li = l.select("l_suppkey", "l_orderkey").distinct()
    edges = (_sym_supplier_edges_i(li)
             .repartition(F.col("dst"))
             .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))
    for _ in range(_KCORE_ROUNDS):
        removed = (deg.filter(F.col("deg") < _KCORE_K)
                   .select("src").localCheckpoint())
        # fixpoint early-exit: the round cap is the ORACLE's contract
        # (6 unrolled CTE rounds); once a peel removes nothing, every
        # further round is the identity, so stopping is result-identical
        # while skipping the dead rounds' probe + maintenance. count()
        # on the just-checkpointed removed frame is metadata-cheap.
        if removed.count() == 0:
            break
        delta = (edges.join(removed.withColumnRenamed("src", "dst"),
                            "dst", "semi")
                 .groupBy("src").agg(F.count(F.lit(1)).alias("d")))
        deg = (deg.join(removed, "src", "anti")
               .join(delta, "src", "left")
               .select("src",
                       (F.col("deg") - F.coalesce(F.col("d"), F.lit(0)))
                       .alias("deg"))
               .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))
    return (deg.filter(F.col("deg") > 0)
            .select(_decode_node(F.col("src"), "o").alias("node_id"),
                    F.col("deg").alias("core_degree")))


def _kcore_oracle() -> str:
    parts = [f"""
WITH li AS (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem),
fwd AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'o' || CAST(l_orderkey AS VARCHAR) AS dst FROM li),
e0 AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)"""]
    for i in range(_KCORE_ROUNDS):
        parts.append(f""",
k{i} AS (SELECT src FROM e{i} GROUP BY src
         HAVING count(*) >= {_KCORE_K}),
e{i + 1} AS (SELECT e.src, e.dst FROM e{i} e
             WHERE e.src IN (SELECT src FROM k{i})
               AND e.dst IN (SELECT src FROM k{i}))""")
    parts.append(f"""
SELECT src AS node_id, count(*) AS core_degree
FROM e{_KCORE_ROUNDS} GROUP BY src""")
    return "".join(parts)


ORACLE_KCORE = _kcore_oracle()


# ---------------------------------------------------------------------------
# corr_report — Pearson correlation + OLS line from exact 128-bit sums
# ---------------------------------------------------------------------------


def q_corr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson r, OLS slope and intercept between quantity and
    price — the corr/covar/regr_* aggregate family, made cross-engine
    deterministic.

    The raw moments (n, Sx, Sy, Sxx, Syy, Sxy) accumulate in DECIMAL —
    Spark's 128-bit decimal sum and DuckDB's HUGEINT are both EXACT, so
    partial-aggregation order cannot wobble them (a naive corr() over
    doubles is order-nondeterministic and would flap the oracle hash).
    The closed-form r/slope/intercept is then ONE double expression over
    those exact moments, identical tree in both engines. One map-side-
    combinable aggregate, 3-row output; scales like any sum.
    """
    l = _t(spark, sf_dir, "lineitem")
    base = l.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("decimal(18,0)").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
        .alias("y"))
    m = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = nd * sxy - sx * sy
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    slope = cov / vx
    return m.select(
        F.col("l_returnflag").alias("flag"), "n",
        F.floor(cov / F.sqrt(vx * vy) * 1e6).alias("corr_e6"),
        F.floor(slope * 1e6).alias("slope_e6"),
        F.floor((sy - slope * sx) / nd).alias("intercept_c"))


ORACLE_CORR = """
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_quantity * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM base GROUP BY flag
)
SELECT flag, n,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  * 1e6) AS BIGINT) AS corr_e6,
       CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1e6) AS BIGINT) AS slope_e6,
       CAST(floor((CAST(sy AS DOUBLE)
                   - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_c
FROM m
"""


# ---------------------------------------------------------------------------
# pmi_cooccur — collocation extraction by pointwise mutual information
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 20
_PMI_TOPK = 20


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI — the classic phrase /
    multiword-expression miner (log2(N * c_xy / (c_x * c_y)) with a
    min-count support floor).

    Everything upstream of the final log2 is exact integers: bigram and
    unigram counts, and the argument N*c_xy / (c_x*c_y) is one double
    division of two exact int products — no float sums anywhere, so PMI
    is engine-identical before e6 quantization. One tokenize pass feeds
    both count tables; unigram counts join back onto the (tiny,
    support-filtered) bigram side twice; top-k is TakeOrdered.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    uni = (d.select(F.explode(toks).alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    total = uni.agg(F.sum("c").alias("n_total"))
    tokd = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    bi = (tokd.select(F.explode(
            F.transform(F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at("toks", i).alias("w1"),
                            F.element_at("toks", i + 1).alias("w2"))))
          .alias("b"))
          .select("b.w1", "b.w2")
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
          .filter(F.col("c_xy") >= _PMI_MIN_COUNT))
    scored = (bi
              .join(uni.select(F.col("t").alias("w1"),
                               F.col("c").alias("c_x")), "w1")
              .join(uni.select(F.col("t").alias("w2"),
                               F.col("c").alias("c_y")), "w2")
              .crossJoin(F.broadcast(total))
              .select(
                  "w1", "w2", "c_xy",
                  F.floor(F.log2((F.col("n_total") * F.col("c_xy"))
                                 .cast("double")
                                 / (F.col("c_x") * F.col("c_y"))
                                 .cast("double")) * 1e6)
                  .alias("pmi_e6")))
    return scored.orderBy(F.col("pmi_e6").desc(), "w1", "w2") \
                 .limit(_PMI_TOPK)


ORACLE_PMI = rf"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS toks
  FROM documents
), uni AS (
  SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM tok)
  GROUP BY t
), total AS (
  SELECT sum(c) AS n_total FROM uni
), bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c_xy
  FROM tok, unnest(generate_series(1, greatest(len(toks) - 1, 0))) s(i)
  GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy,
       CAST(floor(log2(CAST(t.n_total * c_xy AS DOUBLE)
                       / CAST(ux.c * uy.c AS DOUBLE)) * 1e6) AS BIGINT)
         AS pmi_e6
FROM bi
JOIN uni ux ON bi.w1 = ux.t
JOIN uni uy ON bi.w2 = uy.t
CROSS JOIN total t
ORDER BY pmi_e6 DESC, w1, w2 LIMIT {_PMI_TOPK}
"""



def _sym_supplier_edges_i(li):
    """BIGINT twin of _sym_supplier_edges: supplier 2k, counterparty
    2k+1 — the r10 narrowing. The string encoding through a 100M-edge
    checkpoint plus frontier distincts OOM'd the 16g local harness at
    the 100x probe; the BIGINT states run the identical plan in ~1/4
    of the bytes. Decode labels at the OUTPUT projection only, via
    _decode_node; the oracle twins keep the string encoding — their
    states never leave DuckDB."""
    other = [c for c in li.columns if c != "l_suppkey"][0]
    fwd = li.select(
        (F.col("l_suppkey").cast("bigint") * 2).alias("src"),
        (F.col(other).cast("bigint") * 2 + 1).alias("dst"))
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _decode_node(col, pref: str):
    """Label a _sym_supplier_edges_i BIGINT node id back to the
    oracle's string form ('s<k>' for even, '<pref><k>' for odd).
    shiftright keeps the halving in integer space — a float /2 would
    lose exactness past 2^53."""
    return (F.when(col % 2 == 0,
                   F.concat(F.lit("s"),
                            F.shiftright(col, 1).cast("string")))
            .otherwise(F.concat(F.lit(pref),
                                F.shiftright(col - 1, 1)
                                .cast("string"))))


# ---------------------------------------------------------------------------
# graph_bfs_depth — bounded multi-source BFS hop distance
# ---------------------------------------------------------------------------

_BFS_MAX_DEPTH = 4
_BFS_SEED_MOD = 10


def q_graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (<= 4 hops) over the symmetrized
    supplier-part bipartite graph (same edge set as graph_pagerank),
    seeded at suppliers with suppkey % 10 == 0 — the Cypher
    shortestPath / variable-length-path surface ((a)-[*..4]->(b)).

    Frontier expansion on the shared superstep operator: each round
    sends d + 1 from the previous round's newly reached vertices only
    and keeps the min per vertex (unit-weight relax), so round r
    touches O(frontier_r * avg_degree) rows — the textbook Pregel
    shape. Depth is exact-by-construction (first reach = min hops), and
    the loop stops once a round reaches nothing new. The DuckDB twin is
    a recursive CTE over DISTINCT (node, depth) states with the same
    depth cap.

    Node ids are BIGINT internally (supplier 2k, part 2k+1) and the
    's'/'p' labels decoded only in the output projection (the r10 100x
    probe caught the string-id variant OOMing the 16g local harness;
    same fix as harmonic_centrality_seeds, ext23).
    """
    from ..graph.analytics import relax, superstep
    l = _t(spark, sf_dir, "lineitem")
    li = l.select("l_suppkey", "l_partkey").distinct()
    seeds = (li.select("l_suppkey").distinct()
             .filter(F.col("l_suppkey") % _BFS_SEED_MOD == 0)
             .select((F.col("l_suppkey").cast("bigint") * 2).alias("id"),
                     F.lit(0).cast("int").alias("d"),
                     F.lit(True).alias("active")))
    dist = superstep(_sym_supplier_edges_i(li), lambda e: seeds, ["id"],
                     F.col("d") + 1, F.min, relax, _BFS_MAX_DEPTH,
                     active="active")
    return dist.select(_decode_node(F.col("id"), "p").alias("node_id"),
                       F.col("d").alias("depth"))


ORACLE_BFS = f"""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), fwd AS (
  SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst FROM li
), edges AS (
  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
), bfs(id, d) AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR), 0
  FROM li WHERE l_suppkey % {_BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, b.d + 1
  FROM bfs b JOIN edges e ON b.id = e.src
  WHERE b.d < {_BFS_MAX_DEPTH}
)
SELECT id AS node_id, CAST(min(d) AS INT) AS depth
FROM bfs GROUP BY id
"""


# ---------------------------------------------------------------------------
# ewma_report — exponentially weighted moving average (sorted fold)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


def q_ewma_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA of the hourly value average per event type
    (alpha=0.3) — the smoothed-metric primitive behind alerting
    baselines and trend dashboards.

    EWMA is an inherently SEQUENTIAL recurrence, the canonical
    'this can't be a hash aggregate' op: the fold runs over the hourly
    series in ascending hour order on both engines (F.aggregate over
    sort_array / list_reduce over list(... ORDER BY)), the same
    discipline as the BM25/entropy folds. Upstream is exact: hourly
    means are floor(int cents / n). Per type the folded list is one
    row per hour — bounded state (hours, not events), so the
    collect_list is a downsample aggregate, never the raw stream.
    Zero-seeded (acc0 = 0.0, identical both engines; the first hours
    carry the usual zero-seed bias, as documented).
    """
    e = _t(spark, sf_dir, "events")
    hourly = (e.select("event_type", F.date_trunc("hour", "ts").alias("h"),
                       F.round(F.col("value") * 100).cast("bigint")
                       .alias("value_c"))
              .groupBy("event_type", "h")
              .agg(F.floor(F.sum("value_c")
                           / F.count(F.lit(1)).cast("double"))
                   .cast("bigint").alias("avg_c")))
    a = F.lit(_EWMA_ALPHA).cast("double")
    return (hourly.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.sort_array(F.collect_list(F.struct("h", "avg_c")))
                 .alias("series"))
            .select("event_type", "n_hours",
                    F.floor(F.aggregate(
                        "series", F.lit(0.0).cast("double"),
                        lambda acc, s: a * s["avg_c"].cast("double")
                        + (F.lit(1.0).cast("double") - a) * acc) * 1e4)
                    .alias("ewma_e4")))


ORACLE_EWMA = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(floor(sum(CAST(round(value * 100) AS BIGINT))
                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT event_type, count(*) AS n_hours,
       CAST(floor(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(CAST(avg_c AS DOUBLE) ORDER BY h)),
           (acc, x) -> CAST({_EWMA_ALPHA} AS DOUBLE) * x
                       + (CAST(1.0 AS DOUBLE)
                          - CAST({_EWMA_ALPHA} AS DOUBLE)) * acc)
           * 1e4) AS BIGINT) AS ewma_e4
FROM hourly GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# cascade_delete_audit — multi-table delete propagation report
# ---------------------------------------------------------------------------

_DEL_MOD = 50


def q_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style cascade-delete audit: given a customer delete list
    (custkey % 50 == 0), count what a cascade would remove and keep in
    customer -> orders -> lineitem — the dry-run report every
    right-to-erasure pipeline produces before touching data.

    The delete KEY SET is small and broadcasts (customer keys, then the
    affected order keys); each fact table is classified by a broadcast
    semi-join probe expressed as a left join + conditional count, so no
    big table ever shuffles. Output is a 3-row rollup.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    del_cust = c.filter(F.col("c_custkey") % _DEL_MOD == 0) \
                .select("c_custkey")
    n_cust = c.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("c_custkey") % _DEL_MOD == 0).cast("bigint"))
        .alias("n_deleted"))
    o_tag = o.join(F.broadcast(del_cust),
                   o["o_custkey"] == del_cust["c_custkey"], "left")
    n_ord = o_tag.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("c_custkey").isNotNull().cast("bigint"))
        .alias("n_deleted"))
    del_orders = o_tag.filter(F.col("c_custkey").isNotNull()) \
                      .select(F.col("o_orderkey").alias("l_orderkey"))
    l_tag = l.join(F.broadcast(del_orders), "l_orderkey", "left_semi")
    n_li = l.agg(F.count(F.lit(1)).alias("n_total")).crossJoin(
        l_tag.agg(F.count(F.lit(1)).alias("n_deleted")))
    return (n_cust.select(F.lit("customer").alias("table_name"),
                          "n_total", "n_deleted")
            .unionAll(n_ord.select(F.lit("orders").alias("table_name"),
                                   "n_total", "n_deleted"))
            .unionAll(n_li.select(F.lit("lineitem").alias("table_name"),
                                  "n_total", "n_deleted"))
            .select("table_name", "n_total", "n_deleted",
                    (F.col("n_total") - F.col("n_deleted"))
                    .alias("n_kept")))


ORACLE_CASCADE = f"""
WITH del_cust AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {_DEL_MOD} = 0
), del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
)
SELECT 'customer' AS table_name,
       (SELECT count(*) FROM customer) AS n_total,
       (SELECT count(*) FROM del_cust) AS n_deleted,
       (SELECT count(*) FROM customer) - (SELECT count(*) FROM del_cust)
         AS n_kept
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM del_orders),
       (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_orders)
UNION ALL
SELECT 'lineitem',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)),
       (SELECT count(*) FROM lineitem)
       - (SELECT count(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
"""


# ---------------------------------------------------------------------------
# table_profile — one-pass column-statistics profiler
# ---------------------------------------------------------------------------


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders (min / max / null count /
    exact NDV per column) in ONE scan, unpivoted to a long stats table
    — the data-profiling step that feeds optimizer stats, data
    contracts, and drift monitors.

    All four columns' stats compute in a single aggregate (Catalyst
    plans the multi-distinct via one Expand — still one pass over the
    parquet), then a 1-row-to-4-rows stack unpivots. Min/max are
    stringified so heterogeneous column types share the report schema;
    money profiles on int cents. At 100 TB: one scan, one 1-row
    result, no shuffle of the table itself (partial aggs only).
    """
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("o_totalprice_c"))
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice_c"]
    aggs = []
    for col in cols:
        aggs += [F.min(col).cast("string").alias(f"{col}__min"),
                 F.max(col).cast("string").alias(f"{col}__max"),
                 F.sum(F.col(col).isNull().cast("bigint"))
                 .alias(f"{col}__nulls"),
                 F.count_distinct(col).alias(f"{col}__ndv")]
    one = base.agg(*aggs)
    stack_expr = ", ".join(
        f"'{col}', `{col}__min`, `{col}__max`, `{col}__nulls`, `{col}__ndv`"
        for col in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS "
        "(column_name, min_str, max_str, n_nulls, ndv)")


ORACLE_PROFILE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_c
  FROM orders
), one AS (
  SELECT
    CAST(min(o_orderkey) AS VARCHAR) AS k_min,
    CAST(max(o_orderkey) AS VARCHAR) AS k_max,
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS k_nulls,
    count(DISTINCT o_orderkey) AS k_ndv,
    CAST(min(o_custkey) AS VARCHAR) AS c_min,
    CAST(max(o_custkey) AS VARCHAR) AS c_max,
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS c_nulls,
    count(DISTINCT o_custkey) AS c_ndv,
    CAST(min(o_orderstatus) AS VARCHAR) AS s_min,
    CAST(max(o_orderstatus) AS VARCHAR) AS s_max,
    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS s_nulls,
    count(DISTINCT o_orderstatus) AS s_ndv,
    CAST(min(o_totalprice_c) AS VARCHAR) AS p_min,
    CAST(max(o_totalprice_c) AS VARCHAR) AS p_max,
    CAST(sum(CASE WHEN o_totalprice_c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS p_nulls,
    count(DISTINCT o_totalprice_c) AS p_ndv
  FROM base
)
SELECT 'o_orderkey' AS column_name, k_min AS min_str, k_max AS max_str,
       k_nulls AS n_nulls, k_ndv AS ndv FROM one
UNION ALL
SELECT 'o_custkey', c_min, c_max, c_nulls, c_ndv FROM one
UNION ALL
SELECT 'o_orderstatus', s_min, s_max, s_nulls, s_ndv FROM one
UNION ALL
SELECT 'o_totalprice_c', p_min, p_max, p_nulls, p_ndv FROM one
"""


# ---------------------------------------------------------------------------
# sliding_distinct_users — exact distinct counts over sliding windows
# ---------------------------------------------------------------------------


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per 24-hour window sliding every 6 hours —
    the DAU-style rolling-uniques metric, where distinct-ness makes the
    windows NON-additive (you cannot sum per-hour counts; each window
    must deduplicate its own membership).

    Spark's window() assigns each event to its 24/6 = 4 overlapping
    windows via an Expand (row replication on the narrow projection),
    then one (window, user) distinct aggregate. The DuckDB twin derives
    the same epoch-aligned window starts arithmetically. At scale the
    4x expansion happens AFTER column pruning (2 columns), and the
    count-distinct shuffles (window, user) pairs — the exact-dedup
    cost every true-uniques metric pays; the KMV sketch (kmv_distinct)
    is this catalog's bounded-state alternative when estimates suffice.
    """
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "24 hours", "6 hours").alias("w"))
            .agg(F.count_distinct("user_id").alias("n_users"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "n_users"))


ORACLE_SLIDING_DISTINCT = """
WITH assigned AS (
  SELECT make_timestamp(((CAST(floor(epoch(ts) / 21600) AS BIGINT) - i)
                         * 21600) * 1000000) AS window_start,
         user_id
  FROM events, unnest([0, 1, 2, 3]) t(i)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(DISTINCT user_id) AS n_users
FROM assigned GROUP BY 1
"""


# ---------------------------------------------------------------------------
# build_inverted_index — search-index construction (postings + stats)
# ---------------------------------------------------------------------------

_IDX_MIN_DF = 5
_IDX_POSTINGS_CAP = 10


def q_build_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, collection
    frequency, and the first 10 postings (sorted doc ids) — the batch
    job behind every search/RAG index, as a DataFrame plan.

    One tokenize+explode pass; (term, doc) pre-aggregation collapses
    duplicates map-side BEFORE the term-level shuffle, so a term's
    shuffle volume is its df, not its cf. The postings sample is
    slice(sort_array(collect_list)) — bounded output per term no matter
    how hot the term (the full posting list would be written sharded in
    production; the CAP is the demonstrable contract). df floor prunes
    the hapax tail early.
    """
    d = _t(spark, sf_dir, "documents")
    td = doc_terms(d.select("doc_id", tokens("text").alias("toks")))
    return (td.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("cf"),
                 F.array_join(
                     F.slice(F.sort_array(F.collect_list("doc_id")),
                             1, _IDX_POSTINGS_CAP),
                     ",").alias("postings_head"))
            .filter(F.col("df") >= _IDX_MIN_DF))


ORACLE_INVERTED = rf"""
WITH td AS ({doc_terms_sql()})
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string(list_sort(list(doc_id))[1:{_IDX_POSTINGS_CAP}], ',')
         AS postings_head
FROM td GROUP BY term HAVING count(*) >= {_IDX_MIN_DF}
"""


# ---------------------------------------------------------------------------
# exact_percentile_rank — discrete order statistics by rank selection
# ---------------------------------------------------------------------------


def q_exact_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete percentiles (p50/p90/p99 as actually-occurring
    values, rank ceil(q*n)) per event type — the order-statistic
    selection that interpolated quantiles (percentile_report) can't
    give you, and whose tie/rank convention engines disagree on unless
    pinned: rank is row_number over (value, then nothing — values
    collapse to cents), identical everywhere.

    One sort per group partition; the selection is three conditional
    aggs over the ranked rows. At 100 TB the same plan holds per
    group; for a single giant group the two-pass histogram-refine
    selection would replace the full sort (documented alternative).
    """
    e = _t(spark, sf_dir, "events")
    base = e.select("event_type",
                    F.round(F.col("value") * 100).cast("bigint")
                    .alias("value_c"))
    w = Window.partitionBy("event_type").orderBy("value_c")
    wall = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type", "value_c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"))
    sel = [(50, "p50_c"), (90, "p90_c"), (99, "p99_c")]
    aggs = [F.max(F.when(
        F.col("rn") == F.ceil(F.col("n") * q / 100), F.col("value_c")))
        .alias(name) for q, name in sel]
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n_rows"), *aggs)


ORACLE_EXACT_PCT = """
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), ranked AS (
  SELECT event_type, value_c,
         row_number() OVER (PARTITION BY event_type ORDER BY value_c)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base
)
SELECT event_type, max(n) AS n_rows,
       max(CASE WHEN rn = ceil(n * 50 / 100) THEN value_c END) AS p50_c,
       max(CASE WHEN rn = ceil(n * 90 / 100) THEN value_c END) AS p90_c,
       max(CASE WHEN rn = ceil(n * 99 / 100) THEN value_c END) AS p99_c
FROM ranked GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# skew_report — join/shuffle key-skew diagnosis
# ---------------------------------------------------------------------------

_SK_BAND = 8192  # distinct frequency values per prefix-sum band


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis of lineitem's part key — the profiling query
    you run BEFORE choosing a join strategy: key count, max/p99
    frequency, the hottest key's share, and the Gini coefficient of
    the key-frequency distribution (0 = uniform, 1 = one key owns
    everything).

    Frequencies are one pre-aggregate (map-side combined); every
    downstream stat runs on the FREQUENCY DISTRIBUTION (one row per
    distinct frequency value — at most sqrt(2*n_rows) rows, since k
    distinct counts sum to at least k(k+1)/2): p99/max by locating the
    rank inside a tie group's [prev+1, prev+m] span, Gini by the
    rank-sum identity 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n, where each
    tie group of m keys sharing frequency c contributes
    c*(m*prev + m*(m+1)/2) — the per-key rank never materializes, so
    the (c, key) ranking window over |keys| rows is gone. The
    exclusive key-count prefix over the distribution table is the
    two-level band decomposition (8192-value bands + tiny band
    prefix); the key total is a 1-row broadcast. All integer/decimal
    sums until the final double division. This report is why the
    catalog's skew_salted_join knows its salt factor.
    """
    l = _t(spark, sf_dir, "lineitem")
    freq = l.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    fdist = (freq.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
             .withColumn("b", F.expr(f"c div {_SK_BAND}")))
    w_in = (Window.partitionBy("b").orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1))
    local = fdist.withColumn("prev_in", F.sum("m").over(w_in))
    bsum = fdist.groupBy("b").agg(F.sum("m").alias("bm"))
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bsum.select("b", F.sum("bm").over(w_b).alias("before"))
    tot = fdist.agg(F.sum("m").alias("nk"))
    dist = (local.join(F.broadcast(prefix), "b")
            .crossJoin(F.broadcast(tot))
            .select("c", "m", "nk",
                    (F.coalesce(F.col("prev_in"), F.lit(0))
                     + F.coalesce(F.col("before"), F.lit(0)))
                    .alias("prev")))
    md = F.col("m").cast("decimal(38,0)")
    group_rank_sum = (F.col("c").cast("decimal(38,0)")
                      * (md * F.col("prev").cast("decimal(38,0)")
                         + md * (md + F.lit(1)) / F.lit(2)))
    p99_rank = F.ceil(F.col("nk") * 0.99)
    return (dist.agg(
        F.sum("m").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).alias("n_rows"),
        F.max("c").alias("max_freq"),
        F.max(F.when((p99_rank > F.col("prev"))
                     & (p99_rank <= F.col("prev") + F.col("m")),
                     F.col("c"))).alias("p99_freq"),
        F.sum(group_rank_sum).alias("rank_sum"))
        .select(
            "n_keys", "n_rows", "max_freq", "p99_freq",
            F.floor((F.col("max_freq") * 1_000_000)
                    / F.col("n_rows")).alias("top1_share_e6"),
            F.floor((F.lit(2.0) * F.col("rank_sum").cast("double")
                     / (F.col("n_keys").cast("double")
                        * F.col("n_rows").cast("double"))
                     - (F.col("n_keys") + F.lit(1.0))
                     / F.col("n_keys").cast("double"))
                    * 1e6).alias("gini_e6")))


ORACLE_SKEW = """
WITH freq AS (
  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, l_partkey) AS i,
         count(*) OVER () AS nk
  FROM freq
), agg AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         max(c) AS max_freq,
         max(CASE WHEN i = ceil(nk * 0.99) THEN c END) AS p99_freq,
         sum(i * c) AS rank_sum
  FROM ranked
)
SELECT n_keys, n_rows, max_freq, p99_freq,
       CAST(floor(max_freq * 1000000 / n_rows) AS BIGINT)
         AS top1_share_e6,
       CAST(floor((CAST(2.0 AS DOUBLE) * CAST(rank_sum AS DOUBLE)
                   / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
                   - (n_keys + CAST(1.0 AS DOUBLE))
                     / CAST(n_keys AS DOUBLE)) * 1e6) AS BIGINT)
         AS gini_e6
FROM agg
"""


# ---------------------------------------------------------------------------
# blocking_quality — record-linkage blocking-scheme report
# ---------------------------------------------------------------------------


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality report for record linkage: for each
    candidate blocking key over customer (nation-only vs
    nation+mktsegment), the block count, largest block, candidate
    pair count sum(nb*(nb-1)/2), and the reduction ratio vs the full
    n*(n-1)/2 cartesian — the measurement that justifies
    similarity_join's blocked design instead of an all-pairs compare.

    Both schemes aggregate from ONE scan (two groupBys on the same
    narrow projection); every stat is exact integer arithmetic except
    the final e6 ratio. The candidate-pair formula is why blocking
    works at 100 TB: quadratic cost is confined inside blocks, and
    this report is how you catch a blocking key whose biggest block
    re-creates the quadratic blob.
    """
    c = _t(spark, sf_dir, "customer")
    base = c.select("c_custkey", "c_nationkey", "c_mktsegment")
    n_total = base.agg(F.count(F.lit(1)).alias("n")).localCheckpoint()

    def scheme(name: str, keys: list) -> DataFrame:
        blocks = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("nb"))
        # per-block pairs via INTEGER div (nb*(nb-1) is even), summed in
        # 128-bit decimal: the double-division form loses exactness past
        # 2^53 pairs — exactly the quadratic-blob regime this report
        # exists to measure.
        per_block = F.expr("CAST(nb * (nb - 1) AS BIGINT) div 2")
        return (blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("nb").alias("max_block"),
            F.sum(per_block.cast("decimal(28,0)")).cast("bigint")
            .alias("n_cand_pairs"))
            .crossJoin(F.broadcast(n_total))
            .select(F.lit(name).alias("scheme"), "n_blocks", "max_block",
                    "n_cand_pairs",
                    F.floor(F.lit(1e6)
                            - F.col("n_cand_pairs") * F.lit(2_000_000.0)
                            / (F.col("n") * (F.col("n") - F.lit(1))))
                    .alias("reduction_e6")))

    return scheme("nation", [F.col("c_nationkey")]).unionAll(
        scheme("nation_segment",
               [F.col("c_nationkey"), F.col("c_mktsegment")]))


ORACLE_BLOCKING = """
WITH base AS (
  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
), tot AS (
  SELECT count(*) AS n FROM base
), s1 AS (
  SELECT count(*) AS nb FROM base GROUP BY c_nationkey
), s2 AS (
  SELECT count(*) AS nb FROM base GROUP BY c_nationkey, c_mktsegment
)
SELECT 'nation' AS scheme, count(*) AS n_blocks, max(nb) AS max_block,
       CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS n_cand_pairs,
       CAST(floor(1e6 - CAST(sum(nb * (nb - 1) // 2) AS BIGINT)
                        * 2000000.0
                        / ((SELECT n FROM tot)
                           * ((SELECT n FROM tot) - 1))) AS BIGINT)
         AS reduction_e6
FROM s1
UNION ALL
SELECT 'nation_segment', count(*), max(nb),
       CAST(sum(nb * (nb - 1) // 2) AS BIGINT),
       CAST(floor(1e6 - CAST(sum(nb * (nb - 1) // 2) AS BIGINT)
                        * 2000000.0
                        / ((SELECT n FROM tot)
                           * ((SELECT n FROM tot) - 1))) AS BIGINT)
FROM s2
"""


# ---------------------------------------------------------------------------
# keyset_page — scale-safe pagination (keyset predicate, not OFFSET)
# ---------------------------------------------------------------------------

_PAGE_SIZE = 20


def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 3 of orders by (totalprice DESC, orderkey) via KEYSET
    pagination: anchor on the last row of page 2, then fetch
    `(price, key) after anchor` LIMIT 20 — the API-serving pattern that
    replaces OFFSET (which scans and discards every earlier row; at
    page 10^6 an OFFSET is a full sort of the prefix, a keyset fetch is
    still one TakeOrdered over a pushed-down predicate).

    The anchor here is derived in-query (two nested TakeOrdereds over
    the tiny top-40) so the query is self-contained; a real API passes
    the anchor from the previous response. The tie-safe predicate is
    the strict composite order (p < p0) OR (p = p0 AND k > k0).
    """
    o = _t(spark, sf_dir, "orders")
    base = o.select("o_orderkey",
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                    .alias("price_c"))
    top40 = base.orderBy(F.col("price_c").desc(), "o_orderkey") \
                .limit(2 * _PAGE_SIZE)
    anchor = (top40.orderBy(F.col("price_c").asc(),
                            F.col("o_orderkey").desc())
              .limit(1)
              .select(F.col("price_c").alias("p0"),
                      F.col("o_orderkey").alias("k0")))
    return (base.crossJoin(F.broadcast(anchor))
            .filter((F.col("price_c") < F.col("p0"))
                    | ((F.col("price_c") == F.col("p0"))
                       & (F.col("o_orderkey") > F.col("k0"))))
            .select("o_orderkey", "price_c")
            .orderBy(F.col("price_c").desc(), "o_orderkey")
            .limit(_PAGE_SIZE))


ORACLE_KEYSET = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), anchor AS (
  SELECT price_c AS p0, o_orderkey AS k0 FROM (
    SELECT * FROM base ORDER BY price_c DESC, o_orderkey
    LIMIT {2 * _PAGE_SIZE})
  ORDER BY price_c ASC, o_orderkey DESC LIMIT 1
)
SELECT o_orderkey, price_c
FROM base, anchor
WHERE price_c < p0 OR (price_c = p0 AND o_orderkey > k0)
ORDER BY price_c DESC, o_orderkey LIMIT {_PAGE_SIZE}
"""


# ---------------------------------------------------------------------------
# graph_ppr — personalized PageRank from a seed set
# ---------------------------------------------------------------------------

_PPR_ITERS = 3
_PPR_DAMPING = 0.85


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the supplier seed set (suppkey % 10
    == 0) over the symmetrized supplier-part graph — "rank parts near
    these suppliers", the recommendation variant of PageRank (restart
    mass returns to the SEEDS, not uniformly).

    Same engine function family as graph_pagerank (one shuffle per
    round, checkpointed base, in-plan everything); the DuckDB twin
    unrolls the 3 rounds with the identical IEEE-double recurrence and
    the result is e4-quantized for the same summation-order reason
    documented on the pagerank oracle.
    """
    from ..graph.analytics import pagerank
    l = _t(spark, sf_dir, "lineitem")
    li = l.select("l_suppkey", "l_partkey").distinct()
    # BIGINT ids + output-only label decode (the r10 100x-probe OOM
    # fix — see _sym_supplier_edges_i); the analytics operator is
    # id-type-agnostic. Symmetrized, so the dangling mass is 0.0.
    seeds = (li.select("l_suppkey").distinct()
             .filter(F.col("l_suppkey") % 10 == 0)
             .select((F.col("l_suppkey").cast("bigint") * 2).alias("id")))
    pr = pagerank(_sym_supplier_edges_i(li), n_iter=_PPR_ITERS,
                  damping=_PPR_DAMPING, seeds=seeds)
    return pr.select(
        _decode_node(F.col("id"), "p").alias("id"),
        F.round(F.col("rank") * 1e4).cast("bigint").alias("rank_e4"))


def _ppr_oracle() -> str:
    d = f"CAST({_PPR_DAMPING} AS DOUBLE)"
    parts = [f"""
WITH li AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
fwd AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'p' || CAST(l_partkey AS VARCHAR) AS dst FROM li),
edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
nodes AS (SELECT DISTINCT src AS id FROM edges
          UNION SELECT DISTINCT dst AS id FROM edges),
deg AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY 1),
seeds AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS id
          FROM li WHERE l_suppkey % 10 = 0),
ns AS (SELECT count(*) AS n FROM seeds),
base AS (SELECT n.id,
                CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed
         FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
r0 AS (SELECT id, is_seed,
              CAST(is_seed AS DOUBLE) / (SELECT n FROM ns) AS rank
       FROM base)"""]
    for i in range(1, _PPR_ITERS + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS id, sum(r.rank / dg.out_deg) AS in_sum
  FROM edges e JOIN r{i - 1} r ON e.src = r.id
  JOIN deg dg ON e.src = dg.id
  GROUP BY e.dst),
r{i} AS (
  SELECT b.id, b.is_seed,
         (CAST(1.0 AS DOUBLE) - {d}) * b.is_seed
           / CAST((SELECT n FROM ns) AS DOUBLE)
         + {d} * coalesce(c.in_sum, CAST(0.0 AS DOUBLE)) AS rank
  FROM base b LEFT JOIN c{i} c ON b.id = c.id)""")
    parts.append(f"""
SELECT id, CAST(round(rank * 1e4) AS BIGINT) AS rank_e4
FROM r{_PPR_ITERS}""")
    return "".join(parts)


ORACLE_PPR = _ppr_oracle()


# ---------------------------------------------------------------------------
# ivm_update — incremental view maintenance (partial-aggregate merge)
# ---------------------------------------------------------------------------


def q_ivm_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a grouped count/sum view: merge
    the BASE view's aggregate state with a DELTA batch's aggregate and
    get exactly the full-recompute answer — the algebra behind every
    "don't recompute the world" pipeline (and what foreachBatch upserts
    rely on implicitly).

    Here the base/delta split is a deterministic slice of orders
    (key % 10) so the oracle can full-recompute; in production the base
    aggregate is a STORED table and this plan's cost is O(delta) + a
    group-cardinality merge — the 100 TB point is that count/sum/min/max
    states merge associatively, so the fact table is touched once per
    delta, never per refresh. The merge is a full-outer on the group key
    with coalesce-0 addition (a group may exist in only one side).
    """
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)

    def agg(df, pre):
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias(f"{pre}_n"),
            F.sum(cents).alias(f"{pre}_sum"),
            F.max(cents).alias(f"{pre}_max"))

    merged = agg(base, "b").join(agg(delta, "d"), "status", "full_outer")
    z = F.lit(0).cast("bigint")
    return merged.select(
        "status",
        (F.coalesce("b_n", z) + F.coalesce("d_n", z)).alias("n_orders"),
        (F.coalesce("b_sum", z) + F.coalesce("d_sum", z))
        .alias("sum_price_c"),
        F.greatest("b_max", "d_max").alias("max_price_c"))


# The oracle is the FULL RECOMPUTE — passing means the incremental merge
# is exactly equivalent, which is the operator's entire contract.
ORACLE_IVM = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c,
       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_price_c
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# cdc_apply — ordered changelog applied onto final state
# ---------------------------------------------------------------------------


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog to produce final row state: per key, the
    LAST operation in (ts, event_id) order wins; a trailing delete
    erases the row — the snapshot-from-changelog materialization every
    CDC sink (Debezium->lake, binlog replay) performs.

    The event stream is the changelog (event_type 'error' plays the
    DELETE op; everything else upserts its value). One shuffle on the
    key, one window for last-op selection, delete filter at the end —
    and the plan is exactly keep-latest dedup plus tombstone handling,
    so at 100 TB it inherits the same partial window-group-limit
    behavior as group_top1.
    """
    e = _t(spark, sf_dir, "events")
    ops = e.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    return (ops.select("user_id", "op", "value_c",
                       F.row_number().over(w).alias("rn"),
                       F.count(F.lit(1)).over(
                           Window.partitionBy("user_id")).alias("n_ops"))
            .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
            .select("user_id", F.col("value_c").alias("final_value_c"),
                    "n_ops"))


ORACLE_CDC = """
WITH ops AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'delete'
              ELSE 'upsert' END AS op,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), ranked AS (
  SELECT user_id, op, value_c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops
  FROM ops
)
SELECT user_id, value_c AS final_value_c, n_ops
FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


# ---------------------------------------------------------------------------
# schema_evolution_merge — unionByName across table versions
# ---------------------------------------------------------------------------


def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge two SCHEMA VERSIONS of the same logical table — the v1
    slice lacks a column the v2 slice added — via
    unionByName(allowMissingColumns): positional UNION would silently
    misalign columns; by-name union null-fills the missing column, and
    the nulls are then defaulted. This is the lakehouse
    schema-evolution read path (old parquet files simply don't have the
    new column).

    The v1/v2 split is a deterministic orders slice so the DuckDB twin
    (UNION ALL BY NAME) constructs identical inputs. Per-version rollup
    proves the null-fill lands only on v1 rows. Cost is a plain union —
    no shuffle until the 2-row report aggregate.
    """
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("price_c"),
        F.lit("v1").alias("schema_version"))
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("price_c"),
        F.col("o_orderstatus").alias("status"),
        F.lit("v2").alias("schema_version"))
    merged = v1.unionByName(v2, allowMissingColumns=True)
    return (merged
            .select("schema_version",
                    F.coalesce("status", F.lit("UNKNOWN")).alias("status"),
                    "price_c")
            .groupBy("schema_version", "status")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("price_c").alias("sum_price_c")))


ORACLE_SCHEMA_EVOLUTION = """
WITH v1 AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         'v1' AS schema_version
  FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         o_orderstatus AS status, 'v2' AS schema_version
  FROM orders WHERE o_orderkey % 2 = 1
), merged AS (
  SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2
)
SELECT schema_version, coalesce(status, 'UNKNOWN') AS status,
       count(*) AS n_rows, CAST(sum(price_c) AS BIGINT) AS sum_price_c
FROM merged GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# anomaly_mad — robust outlier report (median absolute deviation)
# ---------------------------------------------------------------------------

# 3 * 1.4826 (the normal-consistency constant), pre-multiplied so both
# engines apply ONE double literal — a two-literal product could in
# principle associate differently.
_MAD_THRESHOLD = 4.4478


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier report per event type — the
    median/MAD counterpart of zscore_outliers: mean/stddev are
    themselves dragged by the outliers they're meant to find, MAD is
    50%-breakdown robust (the detector monitoring pipelines actually
    deploy for skewed metrics).

    Exactness discipline: medians over int cents land on exact .5
    halves, so deviations are computed in DOUBLED units (dev2 =
    |2x - 2*median|, an exact int64) and the MAD is a median over
    those ints — every quantity is integer-or-exact-half until the one
    final threshold comparison (dev2 > 4.4478 * mad2, same literal,
    same tree, both engines). Two median aggregates per group, both on
    the 5-row group key; the flag pass joins the 5-row stats broadcast
    back, map-only, like zscore.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select("event_type",
                    F.round(F.col("value") * 100).cast("bigint")
                    .alias("value_c"))
    med = base.groupBy("event_type").agg(
        F.round(F.median("value_c") * 2).cast("bigint").alias("med2"))
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", "med2",
        F.abs(F.col("value_c") * 2 - F.col("med2")).alias("dev2"))
    mad = dev.groupBy("event_type").agg(
        F.round(F.median("dev2") * 2).cast("bigint").alias("mad4"))
    flagged = (dev.join(F.broadcast(mad), "event_type")
               .select("event_type", "med2", "mad4",
                       (F.col("dev2").cast("double")
                        > F.lit(_MAD_THRESHOLD)
                        * F.col("mad4").cast("double") / F.lit(2.0))
                       .cast("bigint").alias("is_outlier")))
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.max("med2").alias("median_x2_c"),
                 F.max("mad4").alias("mad_x4_c"),
                 F.sum("is_outlier").alias("n_outliers")))


ORACLE_MAD = f"""
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), med AS (
  SELECT event_type, CAST(round(median(value_c) * 2) AS BIGINT) AS med2
  FROM base GROUP BY event_type
), dev AS (
  SELECT b.event_type, m.med2, abs(b.value_c * 2 - m.med2) AS dev2
  FROM base b JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, CAST(round(median(dev2) * 2) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n_rows,
       max(d.med2) AS median_x2_c,
       max(m.mad4) AS mad_x4_c,
       CAST(sum(CASE WHEN CAST(d.dev2 AS DOUBLE)
                          > {_MAD_THRESHOLD} * CAST(m.mad4 AS DOUBLE) / 2.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# session_paths — top navigation paths per 30-minute session
# ---------------------------------------------------------------------------

_PATH_GAP_US = 30 * 60 * 1_000_000
_PATH_MAX_STEPS = 8
_PATH_TOPK = 10


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common event-type paths per session (30-min gap
    sessionization, first 8 steps) — the navigation-path mining behind
    funnel discovery ("what do users actually do?" as opposed to the
    funnels you guessed at).

    Sessionize = lag + cumsum on the per-user sort the event pipeline
    already pays; the path string is an ORDERED collect (sorted struct
    list → slice → join), so it's deterministic under any partitioning;
    the path cap bounds row width for pathological sessions. Path
    counting is a map-side-combinable agg over short strings; top-k is
    TakeOrdered.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (e.select("user_id", "ts", "event_id", "event_type",
                     F.unix_micros("ts").alias("ts_us"))
            .withColumn("gap",
                        (F.col("ts_us") - F.lag("ts_us").over(w)
                         > _PATH_GAP_US).cast("int"))
            .withColumn("session_id",
                        F.sum(F.coalesce("gap", F.lit(0))).over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    paths = (sess.groupBy("user_id", "session_id")
             .agg(F.array_join(
                 F.slice(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct(
                             "ts", "event_id", "event_type"))),
                         lambda s: s["event_type"]),
                     1, _PATH_MAX_STEPS), ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.col("n_sessions").desc(), "path")
            .limit(_PATH_TOPK))


ORACLE_SESSION_PATHS = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > {_PATH_GAP_US}
              THEN 1 ELSE 0 END AS gap
  FROM events
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM gaps
), paths AS (
  SELECT user_id, session_id,
         array_to_string(
             list(event_type ORDER BY ts, event_id)[1:{_PATH_MAX_STEPS}],
             '>') AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {_PATH_TOPK}
"""


# ---------------------------------------------------------------------------
# seasonality_report — hour-of-day x day-of-week seasonal profile
# ---------------------------------------------------------------------------


def q_seasonality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal profile matrix: average event value per (day-of-week,
    hour-of-day) cell — the baseline surface anomaly detectors and
    capacity planners subtract before looking for anything interesting.

    One narrow scan, one 168-cell aggregate (map-side combinable), cell
    averages as floor(exact int sum / count). dow follows ISO (1 =
    Monday) via dayofweek shifted, spelled identically in both engines.
    """
    e = _t(spark, sf_dir, "events")
    return (e.select(
        ((F.dayofweek("ts") + 5) % 7 + 1).alias("iso_dow"),
        F.hour("ts").alias("hour_of_day"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"))
        .groupBy("iso_dow", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.floor(F.sum("value_c") / F.count(F.lit(1)).cast("double"))
             .cast("bigint").alias("avg_value_c")))


ORACLE_SEASONALITY = """
SELECT isodow(ts) AS iso_dow, CAST(hour(ts) AS INT) AS hour_of_day,
       count(*) AS n_events,
       CAST(floor(sum(CAST(round(value * 100) AS BIGINT))
                  / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_value_c
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# graph_jaccard_similarity — neighbor-overlap link prediction
# ---------------------------------------------------------------------------

_NJ_HUB_CAP = 200
_NJ_TOPK = 20


def q_graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by Jaccard similarity of their part
    neighborhoods — the neighbor-overlap score behind link prediction
    and 'entities like this one' recommendations on a bipartite graph.

    Candidate pairs come ONLY from co-occurrence on a shared part
    (join on partkey, a < b) — never all supplier pairs; parts touched
    by more than 200 suppliers are hub-capped out first (one
    ~N-supplier part would contribute N^2/2 wedges — the same
    quadratic blob two_hop caps). Intersections aggregate from the
    wedge join; degrees join in from a per-supplier pre-aggregate;
    the score is one exact-int division. Top-k is TakeOrdered.

    The distinct edge set and its hub-capped subset are checkpointed
    ONCE (DISK_ONLY, |E|-scale idiom): deg + both wedge sides + the
    part-degree cap each re-evaluated the lineitem-distinct subtree
    in the first cut — 8 fact scans and 4 distinct shuffles per run.
    """
    from pyspark import StorageLevel
    l = _t(spark, sf_dir, "lineitem")
    li = (l.select("l_suppkey", "l_partkey").distinct()
          .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))
    part_deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("pd"))
    ok_parts = part_deg.filter(F.col("pd") <= _NJ_HUB_CAP) \
                       .select("l_partkey")
    li_ok = (li.join(F.broadcast(ok_parts), "l_partkey", "semi")
             .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))
    # degrees over the SAME capped edge set as the intersections — mixing
    # full-graph degrees with capped intersections would score no
    # consistent neighborhood (caught in review)
    deg = li_ok.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg"))
    a = li_ok.select("l_partkey", F.col("l_suppkey").alias("sa"))
    b = li_ok.select("l_partkey", F.col("l_suppkey").alias("sb"))
    inter = (a.join(b, "l_partkey")
             .filter(F.col("sa") < F.col("sb"))
             .groupBy("sa", "sb")
             .agg(F.count(F.lit(1)).alias("inter")))
    scored = (inter
              .join(deg.select(F.col("l_suppkey").alias("sa"),
                               F.col("deg").alias("da")), "sa")
              .join(deg.select(F.col("l_suppkey").alias("sb"),
                               F.col("deg").alias("db")), "sb")
              .select("sa", "sb", "inter",
                      F.floor(F.col("inter") * 1_000_000
                              / (F.col("da") + F.col("db")
                                 - F.col("inter"))).alias("jaccard_e6")))
    return scored.orderBy(F.col("jaccard_e6").desc(), "sa", "sb") \
                 .limit(_NJ_TOPK)


ORACLE_GRAPH_JACCARD = f"""
WITH li AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), ok_parts AS (
  SELECT l_partkey FROM li GROUP BY l_partkey
  HAVING count(*) <= {_NJ_HUB_CAP}
), li_ok AS (
  SELECT * FROM li WHERE l_partkey IN (SELECT l_partkey FROM ok_parts)
), deg AS (
  SELECT l_suppkey, count(*) AS deg FROM li_ok GROUP BY l_suppkey
), inter AS (
  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS inter
  FROM li_ok a JOIN li_ok b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
)
SELECT sa, sb, inter,
       CAST(floor(inter * 1000000
                  / (da.deg + db.deg - inter)) AS BIGINT) AS jaccard_e6
FROM inter
JOIN deg da ON da.l_suppkey = sa
JOIN deg db ON db.l_suppkey = sb
ORDER BY jaccard_e6 DESC, sa, sb LIMIT {_NJ_TOPK}
"""


# ---------------------------------------------------------------------------
# ann_recall_report — recall@k of the LSH index vs exact brute force
# ---------------------------------------------------------------------------

_RECALL_K = 5


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH ANN index against the exact brute-force
    top-5, per query — the evaluation every approximate index ships
    with (an ANN path without a measured recall number is a guess, not
    an index).

    Composes the two existing catalog pipelines verbatim
    (operators.ann.brute_force_topk / lsh_topk) and left-joins approx
    onto exact on (query, neighbor): recall = hits/k. At 100 TB the
    evaluation runs on a SAMPLED query set exactly like this fixed
    5-query batch — the exact side's cost is the sample size times a
    corpus scan, paid once per index build, not per serve.
    """
    from ..operators.ann import brute_force_topk, lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=_RECALL_K).select(
        "query_id", "neighbor_id")
    approx = lsh_topk(emb, queries, k=_RECALL_K, n_bits=4).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor"))
    hits = exact.join(
        approx, (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["a_neighbor"]), "left") \
        .select(exact["query_id"],
                approx["a_neighbor"].isNotNull().cast("bigint")
                .alias("hit"))
    return (hits.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("k"),
                 F.sum("hit").alias("n_hit"))
            .select("query_id", "k", "n_hit",
                    F.floor(F.col("n_hit") * 1_000_000 / F.col("k"))
                    .alias("recall_e6")))


ORACLE_ANN_RECALL = f"""
WITH exq AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 5
), ex_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.embedding, q.qv) AS sim
  FROM embeddings e, exq q WHERE e.vec_id <> q.query_id
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(sim, 9) DESC, neighbor_id)
             AS rnk
    FROM ex_scored) WHERE rnk <= {_RECALL_K}
), bucketed AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
), apq AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket FROM bucketed
  WHERE vec_id < 5
), ap_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(e.embedding, q.qv) AS sim
  FROM bucketed e JOIN apq q ON e.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(sim, 9) DESC, neighbor_id)
             AS rnk
    FROM ap_scored) WHERE rnk <= {_RECALL_K}
)
SELECT e.query_id, count(*) AS k,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(floor(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) * 1000000.0 / count(*))
            AS BIGINT) AS recall_e6
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# embed_quantize_report — int8 quantization error audit
# ---------------------------------------------------------------------------

_QUANT_SCALE = 127.0 / 0.25  # int8 full range maps to [-0.25, 0.25]


def q_embed_quantize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization with its reconstruction error
    AUDITED: per vector, the max absolute dequantization error and the
    exact squared-norm drift — the measurement that decides whether a
    4x storage/bandwidth cut (float32 -> int8) is safe for a given
    corpus before committing the index rebuild.

    Quantize = clamp(round(x * scale)) to [-127, 127] (symmetric,
    zero-point-free; the [-0.25, 0.25] range deliberately clips the
    distribution's tail so the report shows BOTH regimes — half-step
    rounding error inside the range, clip error outside — which is the
    actual decision a range calibration makes). Everything is
    per-element array math in codegen
    (transform/zip_with + a fold for the max), no shuffle until the
    3-row error-bucket rollup. Errors are e6-quantized ints; the fold
    maxes integers, so no float-sum ordering anywhere.
    """
    e = _t(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127), F.least(
                F.lit(127),
                F.round(x.cast("double") * _QUANT_SCALE).cast("int"))))
    deq = F.transform(F.col("q"), lambda v: v.cast("double") / _QUANT_SCALE)
    err_e6 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("deq"),
                   lambda a, b: F.round(F.abs(a.cast("double") - b) * 1e6)
                   .cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.greatest(acc, x))
    bucket = (F.when(F.col("max_err_e6") <= 1000, "round_only<=1000e-6")
              .when(F.col("max_err_e6") <= 20000, "clipped<=20000e-6")
              .otherwise("clipped>20000e-6"))
    return (e.select("vec_id", "embedding", q.alias("q"))
            .select("vec_id", "embedding", "q", deq.alias("deq"))
            .select("vec_id", err_e6.alias("max_err_e6"))
            .select(bucket.alias("err_bucket"), "max_err_e6")
            .groupBy("err_bucket")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.max("max_err_e6").alias("worst_err_e6")))


ORACLE_QUANTIZE = f"""
WITH q AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> greatest(-127, least(127,
                  CAST(round(CAST(x AS DOUBLE) * {_QUANT_SCALE}) AS INT))))
           AS qv
  FROM embeddings
), err AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_zip(embedding, qv),
                 p -> CAST(round(abs(CAST(p[1] AS DOUBLE)
                                     - CAST(p[2] AS DOUBLE)
                                       / {_QUANT_SCALE}) * 1e6)
                           AS BIGINT))),
             (a, b) -> greatest(a, b)) AS max_err_e6
  FROM q
)
SELECT CASE WHEN max_err_e6 <= 1000 THEN 'round_only<=1000e-6'
            WHEN max_err_e6 <= 20000 THEN 'clipped<=20000e-6'
            ELSE 'clipped>20000e-6' END AS err_bucket,
       count(*) AS n_vectors,
       max(max_err_e6) AS worst_err_e6
FROM err GROUP BY 1
"""


# ---------------------------------------------------------------------------
# kmeans_embed — fixed-iteration Lloyd's k-means, int-exact, oracle-checked
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64
_KM_ITERS = 2   # assign->update rounds before the reported assignment


def _km_quantize(df: DataFrame) -> DataFrame:
    """Embedding floats -> int64 milli-units so every later sum /
    distance is exact integer arithmetic (float aggregation order can
    never flap the result)."""
    return df.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double") * 1000)
                    .cast("bigint")).alias("v"))


def _km_assign(points: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per point: K-row centroid table broadcasts, the
    squared distance folds int64 lanes, ties break on cid."""
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (points.crossJoin(F.broadcast(cents))
            .select("vec_id", "v", "cid", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn"))


def _km_update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cid, dim) exact int sums, floor(mean) back to
    the int lattice, reassembled in dim order."""
    dims = assigned.select("cid", F.posexplode("v").alias("pos", "val"))
    per_dim = dims.groupBy("cid", "pos").agg(
        F.floor(F.sum("val") / F.count(F.lit(1)).cast("double"))
        .cast("bigint").alias("cdim"))
    return (per_dim.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cdim")))
                 .alias("ps"))
            .select("cid",
                    F.transform("ps", lambda s: s["cdim"]).alias("cv")))


def q_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table — 2 fixed iterations,
    K=8, seeds = the 8 smallest vec_ids — reported as per-cluster size
    and exact integer inertia.

    Iterative ML on a DataFrame engine, kept ORACLE-CHECKABLE: every
    quantity is integer-exact (milli-unit lattice, int64 squared
    distances, floor-mean centroids), so a SQL engine replays the
    identical trajectory — no RNG, no float-sum ordering, no "close
    enough" tolerance. The things that normally make distributed
    k-means nondeterministic are exactly the things that make it
    unauditable; this plan removes them.

    Scale shape (MLlib's own layout): centroids are a K-row broadcast —
    assignment is map-side over the point partitions; the update is ONE
    shuffle on (cid, dim) with map-side partial sums; iteration count
    is fixed, and each round's K-row centroid table localCheckpoints so
    the lineage doesn't re-run round i-1's assignment inside round i.
    """
    pts = _km_quantize(_t(spark, sf_dir, "embeddings")).localCheckpoint()
    w = Window.orderBy("vec_id")
    cents = (pts.orderBy("vec_id").limit(_KM_K)
             .select((F.row_number().over(w) - 1).alias("cid"),
                     F.col("v").alias("cv"))).localCheckpoint()
    for _ in range(_KM_ITERS):
        cents = _km_update(_km_assign(pts, cents)).localCheckpoint()
    final = _km_assign(pts, cents)
    return (final.groupBy(F.col("cid").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("d2").alias("inertia")))


def _km_oracle() -> str:
    dist = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(list_zip(q.v, s.cv), "
            "p -> (p[1] - p[2]) * (p[1] - p[2]))), (a, b) -> a + b)")
    parts = [f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
), c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM q ORDER BY vec_id LIMIT {_KM_K}
)"""]
    for i in range(_KM_ITERS):
        parts.append(f""", a{i} AS (
  SELECT vec_id, v, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn
    FROM (SELECT q.vec_id, q.v, s.cid, {dist} AS d2
          FROM q CROSS JOIN c{i} s))
  WHERE rn = 1
), c{i + 1} AS (
  SELECT cid, list(cdim ORDER BY pos) AS cv FROM (
    SELECT cid, i AS pos,
           CAST(floor(sum(v[i]) / CAST(count(*) AS DOUBLE)) AS BIGINT)
             AS cdim
    FROM a{i}, generate_series(1, {_KM_DIM}) t(i)
    GROUP BY cid, i) GROUP BY cid
)""")
    parts.append(f""", afinal AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rn
    FROM (SELECT q.vec_id, s.cid, {dist} AS d2
          FROM q CROSS JOIN c{_KM_ITERS} s))
  WHERE rn = 1
)
SELECT cid AS cluster_id, count(*) AS n_points,
       CAST(sum(d2) AS BIGINT) AS inertia
FROM afinal GROUP BY cid""")
    return "".join(parts)


ORACLE_KMEANS = _km_oracle()


QUERIES_EXT5.update({
    "cube_report": q_cube_report,
    "ohlc_downsample": q_ohlc_downsample,
    "median_mode_report": q_median_mode_report,
    "markov_transitions": q_markov_transitions,
    "kmv_distinct": q_kmv_distinct,
    "bloom_probe": q_bloom_probe,
    "zscore_outliers": q_zscore_outliers,
    "token_entropy": q_token_entropy,
    "kmeans_embed": q_kmeans_embed,
    "corr_report": q_corr_report,
    "pmi_cooccur": q_pmi_cooccur,
    "graph_bfs_depth": q_graph_bfs_depth,
    "gapfill_ffill": q_gapfill_ffill,
    "table_diff": q_table_diff,
    "kcore_decompose": q_kcore_decompose,
    "ewma_report": q_ewma_report,
    "cascade_delete_audit": q_cascade_delete_audit,
    "table_profile": q_table_profile,
    "sliding_distinct_users": q_sliding_distinct_users,
    "build_inverted_index": q_build_inverted_index,
    "exact_percentile_rank": q_exact_percentile_rank,
    "skew_report": q_skew_report,
    "blocking_quality": q_blocking_quality,
    "keyset_page": q_keyset_page,
    "graph_ppr": q_graph_ppr,
    "ivm_update": q_ivm_update,
    "cdc_apply": q_cdc_apply,
    "schema_evolution_merge": q_schema_evolution_merge,
    "embed_quantize_report": q_embed_quantize_report,
    "ann_recall_report": q_ann_recall_report,
    "anomaly_mad": q_anomaly_mad,
    "session_paths": q_session_paths,
    "seasonality_report": q_seasonality_report,
    "graph_jaccard_similarity": q_graph_jaccard_similarity,
})

ORACLE_EXT5.update({
    "cube_report": ORACLE_CUBE,
    "ohlc_downsample": ORACLE_OHLC,
    "median_mode_report": ORACLE_MEDIAN_MODE,
    "markov_transitions": ORACLE_MARKOV,
    "kmv_distinct": ORACLE_KMV,
    "bloom_probe": ORACLE_BLOOM,
    "zscore_outliers": ORACLE_ZSCORE,
    "token_entropy": ORACLE_TOKEN_ENTROPY,
    "kmeans_embed": ORACLE_KMEANS,
    "corr_report": ORACLE_CORR,
    "pmi_cooccur": ORACLE_PMI,
    "graph_bfs_depth": ORACLE_BFS,
    "gapfill_ffill": ORACLE_GAPFILL,
    "table_diff": ORACLE_TABLE_DIFF,
    "kcore_decompose": ORACLE_KCORE,
    "ewma_report": ORACLE_EWMA,
    "cascade_delete_audit": ORACLE_CASCADE,
    "table_profile": ORACLE_PROFILE,
    "sliding_distinct_users": ORACLE_SLIDING_DISTINCT,
    "build_inverted_index": ORACLE_INVERTED,
    "exact_percentile_rank": ORACLE_EXACT_PCT,
    "skew_report": ORACLE_SKEW,
    "blocking_quality": ORACLE_BLOCKING,
    "keyset_page": ORACLE_KEYSET,
    "graph_ppr": ORACLE_PPR,
    "ivm_update": ORACLE_IVM,
    "cdc_apply": ORACLE_CDC,
    "schema_evolution_merge": ORACLE_SCHEMA_EVOLUTION,
    "embed_quantize_report": ORACLE_QUANTIZE,
    "ann_recall_report": ORACLE_ANN_RECALL,
    "anomaly_mad": ORACLE_MAD,
    "session_paths": ORACLE_SESSION_PATHS,
    "seasonality_report": ORACLE_SEASONALITY,
    "graph_jaccard_similarity": ORACLE_GRAPH_JACCARD,
})
