"""Catalog extension 6 (round 7, continuation wave). Training-data
pipeline operators still missing from the catalog — every entry is
oracle-checked against DuckDB like the rest of the catalog.

  lang_id_trigram     trigram-profile language ID + confusion matrix
                      (the real n-gram LID operator; textstats.lang_id
                      is the stopword-ratio fast path)
  cms_heavy_hitters   count-min sketch frequency estimation vs exact
  hll_distinct        HyperLogLog distinct-count sketch vs exact
  prefix_dedup        truncation-duplicate detection (doc is a char
                      prefix of another doc) via blocked sorted windows
  span_dedup          cross-document duplicate token-span fraction
                      (paragraph-level dedup at span granularity)
  spatial_core_points grid-blocked exact eps-neighbor density (DBSCAN
                      core-point labeling) on the 2-D projection
  containment_dedup   asymmetric shingle-containment near-dup join
                      (catches subset/quoted docs Jaccard misses)
  train_split_report  deterministic hash split (train/valid/test) with
                      per-split corpus statistics

Cross-engine determinism rules (SURVEY 4.4): hashes are md5-derived;
scores are quantized to e6 integers with integer division BEFORE any
threshold; the one real-valued reduction (HLL register sum) is a sum of
exact powers of two that fits a 53-bit mantissa, so it is EXACT in
double regardless of fold order (proof in q_hll_distinct's docstring).

Reference parity: the reference has no corpus-dedup surface (its dedup
is author-entity resolution, create_graph_from_doi.py:104-176); these
operators are the LLM-pipeline extension the build brief requires,
expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import tokens, tokens_sql
from .queries import _t, NGRAM_DF_CAP

QUERIES_EXT6: dict = {}
ORACLE_EXT6: dict = {}


# ---------------------------------------------------------------------------
# lang_id_trigram — character-trigram-profile language identification
# ---------------------------------------------------------------------------

_LANG_HEAD = 240       # chars of each doc scored (bounds cost per doc)
_LANG_PROFILE_M = 40   # top-M trigrams kept per language profile
_LANG_EVAL_MOD = 5     # doc_id % 5 == 0 -> held-out eval docs


def q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID: build per-language trigram profiles
    from a training split, score held-out docs against every profile,
    report the (true_lang, pred_lang) confusion matrix.

    This is the textbook n-gram LID (Cavnar-Trenkle profiles) as a pure
    DataFrame plan: the profile is a tiny (n_langs x M) dim built with
    one grouped count + row_number, then BROADCAST into the scoring join
    — the corpus is scanned once and never shuffles on anything wider
    than (doc, trigram). Score = sum(c_doc * c_profile) over shared
    trigrams (integer naive-Bayes-ish correlation; no floats anywhere).
    Argmax ties break on lang ascending; docs whose head matches no
    profile trigram predict 'und' via the right-join back to the eval
    doc list (no cartesian doc x lang expansion needed).

    Only the first 240 chars are shingled — LID saturates in a few
    hundred chars, so per-doc cost is bounded no matter how long the
    document is (the 100 TB guard).

    On this synthetic corpus the languages share one vocabulary, so the
    signal is word-frequency drift only and the matrix is mostly
    off-diagonal — the determinism, not the accuracy, is what the
    oracle checks.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.lower(F.substring("text", 1, _LANG_HEAD)).alias("head"))
    positions = F.when(F.length("head") < 3, F.array().cast("array<int>")) \
        .otherwise(F.sequence(F.lit(1), F.length("head") - 2))
    tris = (d.select("doc_id", "lang", F.col("head"),
                     F.explode(positions).alias("p"))
            .select("doc_id", "lang",
                    F.col("head").substr(F.col("p"), F.lit(3)).alias("tri")))
    train = tris.filter(F.col("doc_id") % _LANG_EVAL_MOD != 0)
    evald = tris.filter(F.col("doc_id") % _LANG_EVAL_MOD == 0)

    pw = Window.partitionBy("lang").orderBy(F.desc("pn"), F.col("tri"))
    profile = (train.groupBy("lang", "tri")
               .agg(F.count(F.lit(1)).alias("pn"))
               .withColumn("rn", F.row_number().over(pw))
               .filter(F.col("rn") <= _LANG_PROFILE_M)
               .select(F.col("lang").alias("cand_lang"), "tri", "pn"))

    evalc = (evald.groupBy("doc_id", "lang", "tri")
             .agg(F.count(F.lit(1)).alias("c")))
    scores = (evalc.join(F.broadcast(profile), "tri")
              .groupBy("doc_id", "lang", "cand_lang")
              .agg(F.sum(F.col("c") * F.col("pn")).alias("score")))
    aw = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand_lang")
    pred = (scores.withColumn("rn", F.row_number().over(aw))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("cand_lang").alias("pred_lang")))
    eval_docs = (d.filter(F.col("doc_id") % _LANG_EVAL_MOD == 0)
                 .select("doc_id", F.col("lang").alias("true_lang")))
    return (eval_docs.join(pred, "doc_id", "left")
            .groupBy("true_lang",
                     F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"))
            .agg(F.count(F.lit(1)).alias("n")))


ORACLE_LANG_ID = f"""
WITH d AS (
  SELECT doc_id, lang, lower(substr(text, 1, {_LANG_HEAD})) AS head
  FROM documents
),
tris AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, length(head) - 2),
                               i -> substr(head, i, 3))) AS tri
  FROM d
),
profile AS (
  SELECT lang AS cand_lang, tri, pn FROM (
    SELECT lang, tri, count(*) AS pn,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, tri) AS rn
    FROM tris WHERE doc_id % {_LANG_EVAL_MOD} <> 0
    GROUP BY lang, tri)
  WHERE rn <= {_LANG_PROFILE_M}
),
evalc AS (
  SELECT doc_id, lang, tri, count(*) AS c
  FROM tris WHERE doc_id % {_LANG_EVAL_MOD} = 0
  GROUP BY doc_id, lang, tri
),
scores AS (
  SELECT e.doc_id, e.lang, p.cand_lang, sum(e.c * p.pn) AS score
  FROM evalc e JOIN profile p USING (tri)
  GROUP BY e.doc_id, e.lang, p.cand_lang
),
pred AS (
  SELECT doc_id, cand_lang AS pred_lang FROM (
    SELECT doc_id, cand_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand_lang) AS rn
    FROM scores)
  WHERE rn = 1
)
SELECT d.lang AS true_lang, coalesce(p.pred_lang, 'und') AS pred_lang,
       count(*) AS n
FROM d LEFT JOIN pred p USING (doc_id)
WHERE d.doc_id % {_LANG_EVAL_MOD} = 0
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# cms_heavy_hitters — count-min sketch vs exact token frequencies
# ---------------------------------------------------------------------------

_CMS_W = 512   # buckets per hash row
_CMS_D = 4     # independent hash rows
_CMS_TOPK = 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: d=4 md5-salted hash rows x w=512 buckets over
    the corpus token stream, then the exact top-20 tokens reported next
    to their CMS estimate (min over rows of the hashed bucket's sum) and
    the resulting overcount.

    The sketch is a (d x w) = 2048-cell table built FROM the exact token
    counts (one map-side-combinable groupBy — the token stream itself is
    never carried to the sketch; only the distinct-token count table is,
    which is vocabulary-sized). The probe side is the top-k tokens
    (k rows) exploded to k*d bucket lookups against the BROADCAST
    sketch. At 100 TB the sketch stays 2048 cells no matter the corpus —
    that is the point of the operator: frequency estimation whose state
    does not grow with the data. md5 salting keeps every cell
    deterministic, so the sketch itself is oracle-checkable.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    counts = (d.select(F.explode(toks).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    seeds = F.sequence(F.lit(0), F.lit(_CMS_D - 1))
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col("seed"), F.col("tok"))), 1, 8),
        16, 10).cast("bigint") % _CMS_W)
    hashed = (counts.select("tok", "n", F.explode(seeds).alias("seed"))
              .select("tok", "n", "seed", bucket.alias("bucket")))
    sketch = (hashed.groupBy("seed", "bucket")
              .agg(F.sum("n").alias("bsum")))
    # top-k via TakeOrdered (orderBy+limit), not a global-order window —
    # no single-partition stage; the deterministic tie-break matches the
    # oracle's row_number order.
    topk = (counts.orderBy(F.desc("n"), F.col("tok"))
            .limit(_CMS_TOPK).select("tok", "n"))
    probes = (topk.select("tok", "n", F.explode(seeds).alias("seed"))
              .select("tok", "n", "seed", bucket.alias("bucket")))
    return (probes.join(F.broadcast(sketch), ["seed", "bucket"])
            .groupBy("tok")
            .agg(F.max("n").alias("exact"),
                 F.min("bsum").alias("cms_est"))
            .select("tok", "exact", "cms_est",
                    (F.col("cms_est") - F.col("exact")).alias("overcount")))


ORACLE_CMS = f"""
WITH tok AS (
  SELECT unnest({tokens_sql()}) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
hashed AS (
  SELECT tok, n, seed,
         CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':', tok)),
                                  1, 8)) AS BIGINT) % {_CMS_W} AS bucket
  FROM counts, unnest(generate_series(0, {_CMS_D - 1})) AS t(seed)
),
sketch AS (
  SELECT seed, bucket, sum(n) AS bsum FROM hashed GROUP BY seed, bucket
),
topk AS (
  SELECT tok, n FROM (
    SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rn
    FROM counts)
  WHERE rn <= {_CMS_TOPK}
),
probes AS (
  SELECT tok, n, seed,
         CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':', tok)),
                                  1, 8)) AS BIGINT) % {_CMS_W} AS bucket
  FROM topk, unnest(generate_series(0, {_CMS_D - 1})) AS t(seed)
)
SELECT p.tok, max(p.n) AS exact, CAST(min(s.bsum) AS BIGINT) AS cms_est,
       CAST(min(s.bsum) - max(p.n) AS BIGINT) AS overcount
FROM probes p JOIN sketch s USING (seed, bucket)
GROUP BY p.tok
"""


# ---------------------------------------------------------------------------
# hll_distinct — HyperLogLog distinct-count sketch vs exact
# ---------------------------------------------------------------------------

# p=8 -> m=256 registers; 48-bit md5-derived hash = 8 register bits
# + 40 rho bits.  alpha_m = 0.7213 / (1 + 1.079/256) ~= 0.718273.
_HLL_M = 256
_HLL_RHO_SPACE = 1099511627776  # 2^40


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count per l_returnflag group, reported next
    to the exact count and the KMV-family audit columns (register count,
    zero registers).

    Spark's approx_count_distinct is engine-private HLL++ and
    unverifiable; this is HLL from first principles, fully deterministic
    and oracle-checkable: 48-bit md5 hash -> top 8 bits pick one of 256
    registers, rho = leading-zero-count of the 40 remaining bits + 1
    (computed EXACTLY via 41 - length(bin(v)) — string length, no
    float log), register keeps max(rho).

    The register sum uses the scaled-integer trick: sum(2^-rho) * 2^41 =
    sum(2^(41-rho)) is a sum of <= 256 exact powers of two spanning
    2^0..2^41, total < 2^50 — it fits int64 AND a double's 53-bit
    mantissa, so BOTH the int64 aggregation and the final double
    division are exact/deterministic regardless of fold order (no
    sorted-fold needed, unlike entropy/BM25). The only rounding in the
    whole estimate is the single IEEE division, identical on both
    engines. Estimate = floor(alpha * m^2 * 2^41 / sum_scaled), with
    the Flajolet small-range correction (linear counting m*ln(m/V)
    when raw <= 2.5m and V empty registers remain).

    Scale: per-group state is 256 registers merged with max() — the agg
    is map-side combinable and the shuffle carries at most
    (groups x 256) rows regardless of corpus size.
    """
    l = _t(spark, sf_dir, "lineitem")
    keys = (l.select(F.col("l_returnflag").alias("grp"), "l_partkey")
            .distinct())
    h = F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 12),
               16, 10).cast("bigint")
    hashed = keys.select("grp", h.alias("h"))
    reg = F.expr(f"h div {_HLL_RHO_SPACE}")
    v = F.col("h") % _HLL_RHO_SPACE
    rho = F.when(v == 0, F.lit(41)) \
        .otherwise(F.lit(41) - F.length(F.bin(v)))
    regs = (hashed.select("grp", reg.alias("reg"), rho.alias("rho"))
            .groupBy("grp", "reg").agg(F.max("rho").alias("m")))
    per_grp = (regs.groupBy("grp")
               .agg(F.count(F.lit(1)).alias("n_regs"),
                    F.sum(F.expr(
                        "shiftleft(CAST(1 AS BIGINT), 41 - CAST(m AS INT))"))
                    .alias("present_sum")))
    exact = keys.groupBy("grp").agg(F.count(F.lit(1)).alias("n_exact"))
    sum_scaled = (F.col("present_sum")
                  + (F.lit(_HLL_M) - F.col("n_regs")) * F.lit(2199023255552))
    raw = (F.lit(0.718273) * F.lit(65536.0) * F.lit(2199023255552.0)
           / sum_scaled.cast("double"))
    n_zero = F.lit(_HLL_M) - F.col("n_regs")
    # Flajolet small-range correction: below 2.5m with empty registers,
    # linear counting m*ln(m/V) is the better estimator (the raw HLL
    # formula biases high in this regime — measured 296 vs exact 200 at
    # sf0.001). ln() is the one non-IEEE-pinned op here; both engines
    # agree at the checked SFs and the floor sits far from integer
    # boundaries (1-ulp libm drift moves it by ~1e-10).
    est = F.when((raw <= F.lit(2.5 * _HLL_M)) & (n_zero > 0),
                 F.floor(F.lit(float(_HLL_M))
                         * F.log(F.lit(float(_HLL_M))
                                 / n_zero.cast("double")))) \
        .otherwise(F.floor(raw)).cast("bigint")
    return (per_grp.join(exact, "grp")
            .select("grp", "n_exact", est.alias("hll_est"),
                    n_zero.alias("n_zero_regs")))


ORACLE_HLL = f"""
WITH keys AS (
  SELECT DISTINCT l_returnflag AS grp, l_partkey FROM lineitem
),
hashed AS (
  SELECT grp,
         CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM keys
),
regs AS (
  SELECT grp, h // {_HLL_RHO_SPACE} AS reg,
         max(CASE WHEN h % {_HLL_RHO_SPACE} = 0 THEN 41
                  ELSE 41 - length(bin(h % {_HLL_RHO_SPACE})) END) AS m
  FROM hashed GROUP BY grp, h // {_HLL_RHO_SPACE}
),
per_grp AS (
  SELECT grp, count(*) AS n_regs,
         sum(CAST(2 AS BIGINT) ** (41 - m)) AS present_sum
  FROM regs GROUP BY grp
),
exact AS (SELECT grp, count(*) AS n_exact FROM keys GROUP BY grp),
raws AS (
  SELECT grp, n_regs,
         CAST(0.718273 AS DOUBLE) * 65536 * 2199023255552
         / CAST(present_sum
                + ({_HLL_M} - n_regs) * CAST(2199023255552 AS BIGINT)
                AS DOUBLE) AS raw
  FROM per_grp
)
SELECT r.grp, e.n_exact,
       CAST(CASE WHEN r.raw <= {2.5 * _HLL_M} AND r.n_regs < {_HLL_M}
                 THEN floor(CAST({_HLL_M} AS DOUBLE)
                            * ln(CAST({_HLL_M} AS DOUBLE)
                                 / CAST({_HLL_M} - r.n_regs AS DOUBLE)))
                 ELSE floor(r.raw) END AS BIGINT) AS hll_est,
       {_HLL_M} - r.n_regs AS n_zero_regs
FROM raws r JOIN exact e USING (grp)
"""


# ---------------------------------------------------------------------------
# prefix_dedup — truncation-duplicate detection via blocked sorted windows
# ---------------------------------------------------------------------------

_PREFIX_BLOCK = 16   # chars of the sort-block key
_PREFIX_PLANT_MOD = 7
_PREFIX_PLANT_LEN = 45
_PREFIX_PLANT_BASE = 1_000_000


def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection: a document whose text is a strict
    CHARACTER PREFIX of another document (truncated re-crawls, partial
    re-uploads) — the dup class that exact-hash dedup misses entirely
    and shingle-Jaccard only catches when the truncation keeps most of
    the doc.

    Key property: in lexicographic order, every string between a and a
    superstring of a also starts with a — so a doc is a prefix-dup iff
    its IMMEDIATE successor in the sorted order starts with it. That
    turns the quadratic prefix join into ONE sort + lead(). The sort is
    blocked on the first 16 chars (a prefix pair with len(short) >= 16
    shares its block by construction), so the window is per-block — a
    range-partitioned sort, NOT a single-partition global window, which
    is what survives 100 TB. Docs shorter than the block key can pair
    across blocks; they are counted (n_short_unchecked), not silently
    dropped — at real scale that residue is a tiny broadcast-join pass.

    The corpus is the documents table plus planted truncations (first 45
    chars of every doc_id % 7 == 0 doc, offset ids) built identically on
    both engines, so the operator provably FINDS the planted dups —
    random test text contains no natural prefix pairs, and an
    all-zeros report would verify nothing.
    """
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    planted = (d.filter(F.col("doc_id") % _PREFIX_PLANT_MOD == 0)
               .select((F.col("doc_id") + _PREFIX_PLANT_BASE).alias("doc_id"),
                       F.substring("text", 1, _PREFIX_PLANT_LEN)
                       .alias("text")))
    corpus = base.unionAll(planted)
    w = (Window.partitionBy(F.substring("text", 1, _PREFIX_BLOCK))
         .orderBy("text", "doc_id"))
    flagged = (corpus
               .withColumn("lead_text", F.lead("text").over(w))
               .select(
                   "doc_id", "text",
                   (F.col("lead_text") == F.col("text")).alias("is_exact"),
                   (F.col("lead_text").startswith(F.col("text"))
                    & (F.col("lead_text") != F.col("text")))
                   .alias("is_prefix")))
    return (flagged.groupBy(
        (F.col("doc_id") >= _PREFIX_PLANT_BASE).alias("planted"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.when(F.col("is_exact"), 1).otherwise(0))
             .alias("n_exact_dup"),
             F.sum(F.when(F.col("is_prefix"), 1).otherwise(0))
             .alias("n_prefix_dup"),
             F.sum(F.when(F.length("text") < _PREFIX_BLOCK, 1).otherwise(0))
             .alias("n_short_unchecked")))


ORACLE_PREFIX_DEDUP = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PREFIX_PLANT_BASE},
         substr(text, 1, {_PREFIX_PLANT_LEN})
  FROM documents WHERE doc_id % {_PREFIX_PLANT_MOD} = 0
),
flagged AS (
  SELECT doc_id, text,
         lead(text) OVER (PARTITION BY substr(text, 1, {_PREFIX_BLOCK})
                          ORDER BY text, doc_id) AS lead_text
  FROM corpus
)
SELECT doc_id >= {_PREFIX_PLANT_BASE} AS planted,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN lead_text = text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(sum(CASE WHEN starts_with(lead_text, text)
                     AND lead_text <> text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_prefix_dup,
       CAST(sum(CASE WHEN length(text) < {_PREFIX_BLOCK} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_short_unchecked
FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------------------
# span_dedup — cross-document duplicate token-span fraction
# ---------------------------------------------------------------------------

_SPAN_LEN = 3  # tokens per span (vocab is tiny, so 3-token spans collide)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup signal: segment every doc into fixed
    non-overlapping token spans, hash each span, and report per source
    the fraction of spans that also occur in ANOTHER document —
    the intra-corpus boilerplate/quotation measure used to decide
    span-level (vs whole-doc) dedup in training pipelines.

    Plan: spans come from one array transform per doc (span count =
    tokens/3, so the lambda runs per-span, not per-char), then ONE
    md5-hash explode; the duplicate flag is a groupBy(h) count-distinct
    joined back ON THE SAME KEY — Catalyst reuses the hash partitioning,
    so the flag join adds no extra shuffle at scale. All aggregates are
    map-side combinable; the output is one row per source.

    The e6 fraction uses integer div (no float division on both
    engines). Docs with < 3 tokens contribute no spans and drop out of
    n_docs on both engines identically.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n_spans = F.floor(F.size(F.col("toks")) / _SPAN_LEN).cast("int")
    spans = F.when(F.size("toks") >= _SPAN_LEN,
                   F.transform(F.sequence(F.lit(0), n_spans - 1),
                               lambda i: F.concat_ws(
                                   " ", F.slice(F.col("toks"),
                                                i * _SPAN_LEN + 1,
                                                _SPAN_LEN)))) \
        .otherwise(F.array().cast("array<string>"))
    sp = (d.select("doc_id", "source", toks.alias("toks"))
          .select("doc_id", "source", F.explode(spans).alias("span"))
          .select("doc_id", "source", F.md5("span").alias("h")))
    dup = (sp.groupBy("h")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .select("h", (F.col("nd") >= 2).alias("is_dup")))
    return (sp.join(dup, "h")
            .groupBy("source")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                 .alias("n_dup_spans"))
            .select("source", "n_docs", "n_spans", "n_dup_spans",
                    F.expr("CAST(CAST(n_dup_spans AS DECIMAL(38,0))"
                           " * 1000000 div n_spans AS BIGINT)")
                    .alias("dup_frac_e6")))


ORACLE_SPAN_DEDUP = f"""
WITH t AS (
  SELECT doc_id, source,
         {tokens_sql()} AS toks
  FROM documents
),
sp AS (
  SELECT doc_id, source,
         md5(unnest(list_transform(
             generate_series(0, CAST(len(toks) // {_SPAN_LEN} AS INT) - 1),
             i -> array_to_string(list_slice(toks, i * {_SPAN_LEN} + 1,
                                             i * {_SPAN_LEN} + {_SPAN_LEN}),
                                  ' ')))) AS h
  FROM t WHERE len(toks) >= {_SPAN_LEN}
),
dup AS (
  SELECT h, count(DISTINCT doc_id) >= 2 AS is_dup FROM sp GROUP BY h
)
SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_spans,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       CAST((sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000000) // count(*)
            AS BIGINT) AS dup_frac_e6
FROM sp JOIN dup USING (h)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# spatial_core_points — grid-blocked exact eps-neighbor density
# ---------------------------------------------------------------------------

_EPS_MI = 50    # eps in milli-units (0.05)
_MIN_PTS = 4    # neighbors (excluding self) to be a core point


def q_spatial_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point labeling on the 2-D projection of the embedding
    (dims 1-2 as an x/y point — the geo/low-dim density path): a point
    is CORE if >= minPts other points lie within eps (L2).

    The exact eps-join is grid-blocked: cell = floor(coord/eps) per
    axis, candidates = pairs whose cells are within 1 step on both axes
    (every eps-ball fits a 3x3 cell neighborhood), generated by
    exploding 9 offsets on ONE side and equi-joining on the cell — an
    equi-join whose cost is sum over cells of |cell| * |3x3 nbhd|,
    linear at fixed density, NEVER the all-pairs product. This blocking
    is exact only because eps is comparable to the per-axis spread
    (2-D); in the full 64-dim space eps-balls don't project to small
    boxes (curse of dimensionality) — high-dim near-dup belongs to the
    LSH family (dedup_embedding*), which trades exactness for recall.

    Coordinates are quantized to integer milli-units FIRST (same lattice
    discipline as kmeans_embed), so the distance test
    dx^2 + dy^2 <= eps^2 is pure int64 math — bit-stable across engines
    and partitionings. Points with zero candidates re-enter via the
    left join and count as non-core. One row per label.
    """
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id", "label",
        F.floor(F.col("embedding")[0].cast("double") * 1000)
        .cast("bigint").alias("x"),
        F.floor(F.col("embedding")[1].cast("double") * 1000)
        .cast("bigint").alias("y"))
    cx = F.floor(F.col("x") / float(_EPS_MI)).cast("bigint")
    cy = F.floor(F.col("y") / float(_EPS_MI)).cast("bigint")
    cells = pts.select("vec_id", "label", "x", "y",
                       cx.alias("cx"), cy.alias("cy"))
    offs = F.expr("explode(array(-1, 0, 1))")
    probe = (cells
             .select("vec_id", "x", "y", "cx", "cy", offs.alias("dx"))
             .select("vec_id", "x", "y", "cy",
                     (F.col("cx") + F.col("dx")).alias("cx"),
                     F.expr("explode(array(-1, 0, 1))").alias("dy"))
             .select("vec_id", "x", "y", "cx",
                     (F.col("cy") + F.col("dy")).alias("cy")))
    other = cells.select(F.col("vec_id").alias("o_id"),
                         F.col("x").alias("ox"), F.col("y").alias("oy"),
                         "cx", "cy")
    d2 = ((F.col("x") - F.col("ox")) * (F.col("x") - F.col("ox"))
          + (F.col("y") - F.col("oy")) * (F.col("y") - F.col("oy")))
    ncounts = (probe.join(other, ["cx", "cy"])
               .filter((F.col("vec_id") != F.col("o_id"))
                       & (d2 <= _EPS_MI * _EPS_MI))
               .groupBy("vec_id")
               .agg(F.count(F.lit(1)).alias("n_nbr")))
    return (pts.join(ncounts, "vec_id", "left")
            .select("label",
                    F.coalesce("n_nbr", F.lit(0)).alias("n_nbr"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum(F.when(F.col("n_nbr") >= _MIN_PTS, 1).otherwise(0))
                 .alias("n_core"),
                 F.sum(F.when(F.col("n_nbr") == 0, 1).otherwise(0))
                 .alias("n_isolated")))


ORACLE_SPATIAL_CORE = f"""
WITH pts AS (
  SELECT vec_id, label,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
  FROM embeddings
),
nbr AS (
  SELECT a.vec_id, count(*) AS n_nbr
  FROM pts a JOIN pts b
    ON a.vec_id <> b.vec_id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_EPS_MI * _EPS_MI}
  GROUP BY a.vec_id
)
SELECT p.label, count(*) AS n_points,
       CAST(sum(CASE WHEN coalesce(n.n_nbr, 0) >= {_MIN_PTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       CAST(sum(CASE WHEN coalesce(n.n_nbr, 0) = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_isolated
FROM pts p LEFT JOIN nbr n USING (vec_id)
GROUP BY p.label
"""


# ---------------------------------------------------------------------------
# containment_dedup — asymmetric shingle containment join
# ---------------------------------------------------------------------------

_CONT_THRESHOLD_E6 = 700_000


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT near-dup summary: |A∩B| / min(|A|,|B|) over
    the df-capped character-5-gram space — the subset-document detector
    (short doc quoted whole inside a long one scores ~1.0 here but low
    Jaccard, because the union is dominated by the long doc).

    Same inverted-index/df-cap plan as dedup_ngram_jaccard; the score is
    an e6 integer via integer division BEFORE the threshold (bit-stable
    membership; operators/dedup.py:ngram_containment_pairs). The catalog
    entry reports the one-row SUMMARY (pair count, docs involved, score
    range), not the pair list: at sf0.1 the corpus has 56k full-
    containment pairs, and a result that grows quadratically with dup
    density is not a collectable catalog answer — downstream dedup
    consumes the pair RDD via the survivors/CC path instead
    (dedup_survivors). Pair-level semantics are pinned by pytest
    (containment >= Jaccard superset law) and the count here.
    """
    from ..operators.dedup import ngram_containment_pairs
    pairs = ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=5,
        threshold_e6=_CONT_THRESHOLD_E6, max_token_df=NGRAM_DF_CAP)
    # one aggregate over the exploded pair sides (each pair -> 2 rows,
    # so n_pairs = count/2) — no 1-row x 1-row join to combine stats
    return (pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"),
                         "cont_e6")
            .agg(F.expr("count(1) div 2").alias("n_pairs"),
                 F.countDistinct("id").alias("n_docs_involved"),
                 F.min("cont_e6").alias("min_cont_e6"),
                 F.max("cont_e6").alias("max_cont_e6")))


ORACLE_CONTAINMENT = f"""
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
),
pairs AS (
  SELECT id_a, id_b,
         (inter * 1000000) // least(sa.sz, sb.sz) AS cont_e6
  FROM co
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE (inter * 1000000) // least(sa.sz, sb.sz) >= {_CONT_THRESHOLD_E6}
),
sides AS (
  SELECT unnest([id_a, id_b]) AS id, cont_e6 FROM pairs
)
SELECT count(*) // 2 AS n_pairs, count(DISTINCT id) AS n_docs_involved,
       min(cont_e6) AS min_cont_e6, max(cont_e6) AS max_cont_e6
FROM sides
"""


# ---------------------------------------------------------------------------
# train_split_report — deterministic hash split with per-split stats
# ---------------------------------------------------------------------------


def q_train_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (md5(doc_id) % 100 ->
    80/10/10) with per-(split, lang) corpus statistics — the
    reproducible-split primitive every training pipeline needs:
    membership is a pure function of the id (re-runs, backfills and
    late-arriving shards all land in the same split, independent of
    partitioning and row order — rand()-based splits guarantee none of
    that). One narrow scan, one map-side-combinable agg.
    """
    d = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 100
    toks = tokens("text")
    split = (F.when(h < 80, "train").when(h < 90, "valid")
             .otherwise("test"))
    return (d.select(split.alias("split"), "lang",
                     F.size(toks).alias("n_toks"),
                     F.length("text").alias("n_chars"))
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_toks").alias("n_tokens"),
                 F.sum("n_chars").alias("n_chars")))


ORACLE_TRAIN_SPLIT = rf"""
WITH d AS (
  SELECT CASE
           WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 < 80 THEN 'train'
           WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 < 90 THEN 'valid'
           ELSE 'test' END AS split,
         lang,
         len({tokens_sql()}) AS n_toks,
         length(text) AS n_chars
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM d GROUP BY split, lang
"""


QUERIES_EXT6.update({
    "lang_id_trigram": q_lang_id_trigram,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "hll_distinct": q_hll_distinct,
    "prefix_dedup": q_prefix_dedup,
    "span_dedup": q_span_dedup,
    "spatial_core_points": q_spatial_core_points,
    "containment_dedup": q_containment_dedup,
    "train_split_report": q_train_split_report,
})

ORACLE_EXT6.update({
    "lang_id_trigram": ORACLE_LANG_ID,
    "cms_heavy_hitters": ORACLE_CMS,
    "hll_distinct": ORACLE_HLL,
    "prefix_dedup": ORACLE_PREFIX_DEDUP,
    "span_dedup": ORACLE_SPAN_DEDUP,
    "spatial_core_points": ORACLE_SPATIAL_CORE,
    "containment_dedup": ORACLE_CONTAINMENT,
    "train_split_report": ORACLE_TRAIN_SPLIT,
})
