"""Round-2 query catalog extension: resolution cascade, graph analytics,
ingest scorecard, multimodal metadata, and the remaining SURVEY §2 scalar
rows (A5, P4, P7, J4, F6/F7, F12/F13, F17).

Same conventions as plans/queries.py (aliased columns identical on both
engines, ints cast BIGINT, exact arithmetic in checked output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph.analytics import connected_components, pagerank
from ..ingest.pipeline import ingestion_metrics
from ..operators.dedup import minhash_lsh_star_edges, simhash, tokens_col
from ..operators.multimodal import attach_binary_metadata
from ..operators.resolve import resolve_authors
from ..operators.textstats import tokens_sql
from .queries import _oracle_minhash_cte, _t


# ---------------------------------------------------------------------------
# Author-resolution cascade (reference create_graph_from_doi.py:104-176)
# ---------------------------------------------------------------------------

def q_resolve_cascade(spark, sf_dir):
    """The match-orcid -> verify-name -> name-key-fallback -> create cascade
    on synthesized author-shaped rows over customer. Incoming rows are
    perturbed deterministically: %3 carry the correct orcid, %7 a wrong
    orcid, %5 a case-twisted first name (verify still passes via
    lowercasing; the name KEY becomes case-mismatched), %11 an unknown
    last name (forces the create path)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    existing = cust.select(
        k.cast("string").alias("uuid"),
        F.col("c_mktsegment").alias("first_name"),
        (k % 997).cast("string").alias("last_name"),
        F.concat(F.lit("ORCID-"), k.cast("string")).alias("orcid"),
    )
    incoming = cust.select(
        k.cast("bigint").alias("in_id"),
        F.when(k % 3 == 0, F.concat(F.lit("ORCID-"), k.cast("string")))
        .when(k % 7 == 0, F.concat(F.lit("no-such-"), k.cast("string")))
        .alias("orcid"),
        F.when(k % 5 == 0, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment")).alias("first_name"),
        F.when(k % 11 == 0,
               F.concat(F.lit("ZZ-"), (k % 997).cast("string")))
        .otherwise((k % 997).cast("string")).alias("last_name"),
    )
    out = resolve_authors(incoming, existing, exact=False)
    return out.select("in_id", "resolved_uuid", "resolution")


ORACLE_RESOLVE = """
WITH existing AS (
  SELECT CAST(c_custkey AS VARCHAR) AS uuid,
         c_mktsegment AS first_name,
         CAST(c_custkey % 997 AS VARCHAR) AS last_name,
         'ORCID-' || CAST(c_custkey AS VARCHAR) AS orcid
  FROM customer
),
incoming AS (
  SELECT CAST(c_custkey AS BIGINT) AS in_id,
         CASE WHEN c_custkey % 3 = 0 THEN 'ORCID-' || CAST(c_custkey AS VARCHAR)
              WHEN c_custkey % 7 = 0 THEN 'no-such-' || CAST(c_custkey AS VARCHAR)
         END AS orcid,
         CASE WHEN c_custkey % 5 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS first_name,
         CASE WHEN c_custkey % 11 = 0 THEN 'ZZ-' || CAST(c_custkey % 997 AS VARCHAR)
              ELSE CAST(c_custkey % 997 AS VARCHAR) END AS last_name
  FROM customer
),
inc AS (
  SELECT *, first_name || ' ' || last_name AS full_name,
         substr(first_name, 1, 1) || ' ' || last_name AS nkey
  FROM incoming
),
ex AS (
  SELECT uuid, first_name || ' ' || last_name AS ex_full,
         substr(first_name, 1, 1) || ' ' || last_name AS ex_key,
         orcid AS ex_orcid
  FROM existing
),
orcid_scored AS (
  SELECT i.in_id, e.uuid,
         1.0 - CAST(levenshtein(lower(trim(e.ex_full)), lower(trim(i.full_name))) AS DOUBLE)
             / greatest(length(lower(trim(e.ex_full))), length(lower(trim(i.full_name)))) AS score
  FROM inc i JOIN ex e ON i.orcid = e.ex_orcid
),
orcid_hits AS (
  SELECT in_id, uuid FROM (
    SELECT in_id, uuid, score,
           row_number() OVER (PARTITION BY in_id ORDER BY score DESC, uuid) AS rn
    FROM orcid_scored
  ) WHERE rn = 1 AND score >= 0.8
),
name_hits AS (
  SELECT in_id, uuid FROM (
    SELECT i.in_id, e.uuid,
           row_number() OVER (PARTITION BY i.in_id ORDER BY e.uuid) AS rn
    FROM inc i JOIN ex e ON i.nkey = e.ex_key
  ) WHERE rn = 1
)
SELECT i.in_id,
       COALESCE(o.uuid, n.uuid,
                sha256(concat_ws('|', i.first_name, i.last_name,
                                 COALESCE(i.orcid, '')))) AS resolved_uuid,
       CASE WHEN o.uuid IS NOT NULL THEN 'matched_orcid'
            WHEN n.uuid IS NOT NULL THEN 'matched_name'
            ELSE 'created' END AS resolution
FROM inc i
LEFT JOIN orcid_hits o ON i.in_id = o.in_id
LEFT JOIN name_hits n ON i.in_id = n.in_id
"""


# ---------------------------------------------------------------------------
# Graph analytics (M5): connected components + PageRank
# ---------------------------------------------------------------------------

def q_graph_components(spark, sf_dir):
    """Connected components of the document near-dup graph (LSH bucket
    co-membership as the connectivity relation, every document a node).
    Iterative min-label propagation — the co-authorship-components shape
    from the north star.

    Scale shape: edges are the LINEAR star form (member -> bucket rep,
    minhash_lsh_star_edges), not the quadratic all-pairs clique — the
    components are provably identical, so the oracle can still verify via
    the pair graph's transitive closure."""
    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_star_edges(docs, "text", "doc_id", k=4, bands=2)
    comp = connected_components(edges, nodes=docs.select("doc_id"))
    return comp.select(F.col("id").cast("bigint").alias("doc_id"),
                       F.col("component").cast("bigint").alias("component"))


ORACLE_COMPONENTS = _oracle_minhash_cte(4).replace(
    "WITH tok", "WITH RECURSIVE tok", 1) + """
, buckets AS (
  SELECT id, 0 AS band, md5(mh0 || '|' || mh1) AS bucket FROM sig
  UNION ALL
  SELECT id, 1 AS band, md5(mh2 || '|' || mh3) AS bucket FROM sig
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
ed AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.b FROM walk w JOIN ed e ON w.reach = e.a
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(reach) AS BIGINT) AS component
FROM walk GROUP BY id
"""


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the symmetrized supplier-part bipartite
    graph, checked against a DuckDB oracle that unrolls the 5 iterations as
    CTE stages. Both engines run the identical IEEE-double recurrence
    (same literals, same coalesce-0 left join), so after integer
    quantization (round(rank * 1e4) as BIGINT) the values hash-match —
    float output itself is avoided because Spark rounds via BigDecimal
    HALF_UP while DuckDB rounds the binary double, which can differ in the
    last ulp at a decimal boundary; rounding to an integer sidesteps that.
    e4 (not e6) quantization: the per-iteration sum(rank/out_deg) partial-
    aggregation ORDER is not fixed in either engine, so the recurrence is
    only identical up to summation order (round-3 ADVICE). The wobble is
    ~1 ulp (~1e-16 relative); at e4 a value would need to land within
    ~1e-12 of a 0.5*1e-4 rounding boundary to flip — astronomically less
    likely than at e6, and ranks have no reason to cluster on boundaries.

    Perf shape: see the rank-loop policy note in graph.analytics."""
    # BIGINT node ids internally (supplier 2k, part 2k+1; the r10
    # narrowing — see queries_ext5._sym_supplier_edges_i), labels
    # decoded only in the output projection; rank values depend on
    # graph structure alone, so the oracle's string encoding stays.
    # Symmetrized: every node has out-edges, so the dangling mass is
    # exactly 0.0 and the oracle needs no dangling term.
    from .queries_ext5 import _decode_node, _sym_supplier_edges_i
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()
    pr = pagerank(_sym_supplier_edges_i(li), n_iter=5)
    return pr.select(
        _decode_node(F.col("id"), "p").alias("id"),
        F.round(F.col("rank") * 1e4).cast("bigint").alias("rank_e4"))


def _oracle_pagerank(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as DuckDB CTE stages.

    Constant parity: every literal is forced to DOUBLE (DuckDB parses bare
    decimal literals as DECIMAL — (1.0 - 0.85) would be exactly 0.15 in
    DECIMAL, while Python/Spark compute 0.15000000000000002 in IEEE double;
    CAST first, subtract after, and both engines run the same recurrence).
    """
    d = "CAST(0.85 AS DOUBLE)" if damping == 0.85 else f"CAST({damping!r} AS DOUBLE)"
    parts = [f"""
WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
fwd AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'p' || CAST(l_partkey AS VARCHAR) AS dst FROM li),
edges AS (SELECT src, dst FROM fwd
          UNION ALL SELECT dst AS src, src AS dst FROM fwd),
nodes AS (SELECT DISTINCT src AS id FROM edges
          UNION SELECT DISTINCT dst AS id FROM edges),
deg AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY 1),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
  FROM edges e JOIN r{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
  GROUP BY e.dst),
r{i} AS (
  SELECT nodes.id,
         (CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nn)
         + {d} * COALESCE(c{i}.in_sum, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id)""")
    parts.append(f"""
SELECT id, CAST(round(rank * 1e4) AS BIGINT) AS rank_e4 FROM r{n_iter}
""")
    return "".join(parts)


ORACLE_PAGERANK = _oracle_pagerank(5)


# ---------------------------------------------------------------------------
# A5 max over keys / P4 null branch / P7 guard
# ---------------------------------------------------------------------------

def q_max_over_keys(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return (cust.groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
            .agg(F.max("c_acctbal").alias("max_bal"),
                 F.count(F.lit(1)).alias("n_cust")))


ORACLE_MAX_KEYS = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       max(c_acctbal) AS max_bal, count(*) AS n_cust
FROM customer GROUP BY 1
"""


def q_null_branch_dispatch(spark, sf_dir):
    """P4: the pd.isna(orcid) branch (reference create_graph.py:90,177,224)
    — per row choose the orcid lookup key or the name lookup key."""
    o = _t(spark, sf_dir, "orders")
    orcid = F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderpriority"))
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.when(orcid.isNull(),
               F.concat(F.lit("name:"), F.col("o_custkey").cast("string")))
        .otherwise(F.concat(F.lit("orcid:"), orcid)).alias("match_key"),
        F.when(orcid.isNull(), F.lit("by_name"))
        .otherwise(F.lit("by_orcid")).alias("branch"),
    )


ORACLE_NULL_BRANCH = """
WITH t AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS orcid
  FROM orders
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CASE WHEN orcid IS NULL THEN 'name:' || CAST(o_custkey AS VARCHAR)
            ELSE 'orcid:' || orcid END AS match_key,
       CASE WHEN orcid IS NULL THEN 'by_name' ELSE 'by_orcid' END AS branch
FROM t
"""


def q_guard_empty(spark, sf_dir):
    """P7: empty/err-result guard (reference get_metadata.py:51-60) — drop
    empty payloads, classify the rest with an error-side-channel column."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(tokens_col("text"))
    return (
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            toks.cast("bigint").alias("n_tokens"),
            F.when(toks < 3, F.lit("too_short"))
            .otherwise(F.lit("ok")).alias("status"))
        .filter(F.col("n_tokens") > 0)
    )


ORACLE_GUARD = rf"""
WITH t AS (
  SELECT doc_id,
         length(list_distinct({tokens_sql()})) AS n_tokens
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_tokens < 3 THEN 'too_short' ELSE 'ok' END AS status
FROM t WHERE n_tokens > 0
"""


# ---------------------------------------------------------------------------
# J4 initial-key join / F6+F7 orcid coalesce / F12+F13 slug+latlng / F17 ids
# ---------------------------------------------------------------------------

def q_initial_key_join(spark, sf_dir):
    """J4/J10: the m:m blocked join on the initial+surname key
    (reference create_graph_from_doi.py:53-65, notebooks cell 12-13).

    The checked output is the PAIR COUNT per key, and inner-join
    cardinality per key is exactly count_left(key) * count_right(key) —
    so the plan aggregates each side map-side and multiplies, never
    materializing the pairs (the r7-era join-then-count form produced
    O(N^2/K) intermediate rows on the ~2.5k-key synthetic name space:
    8.3s / 25.5x at the r13 100x probe vs sub-second after; the same
    low-cardinality-key blowup class as resolve_cascade's stage 2).
    The pair-MATERIALIZING m:m join surface stays covered by
    similarity_join (J5, blocked + scored) and the resolve cascade's
    orcid stage; at 100 TB a pairs-then-count plan is exactly the
    shuffle this rewrite deletes."""
    from ..functions.names import initial_name_col
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = cust.select(
        k.alias("ck"),
        F.col("c_mktsegment").alias("first_name"),
        (k % 499).cast("string").alias("last_name"))
    left = base.select("ck", initial_name_col("first_name", "last_name").alias("nkey"))
    right = (base.filter(F.col("ck") % 2 == 0)
             .select(initial_name_col("first_name", "last_name").alias("nkey")))
    lc = left.groupBy("nkey").agg(F.count(F.lit(1)).alias("__nl"))
    rc = right.groupBy("nkey").agg(F.count(F.lit(1)).alias("__nr"))
    return (lc.join(rc, "nkey")
            .select("nkey", (F.col("__nl") * F.col("__nr")).alias("n_pairs")))


ORACLE_INITIAL_KEY = """
WITH base AS (
  SELECT c_custkey AS ck,
         substr(c_mktsegment, 1, 1) || ' ' || CAST(c_custkey % 499 AS VARCHAR) AS nkey
  FROM customer
)
SELECT l.nkey, count(*) AS n_pairs
FROM base l JOIN (SELECT nkey FROM base WHERE ck % 2 = 0) r ON l.nkey = r.nkey
GROUP BY l.nkey
"""


def q_orcid_coalesce(spark, sf_dir):
    """F7 pid->orcid coalesce + F6 URL format + F19 scheme dispatch
    (reference parser.py:18-22,66,150-163) on synthesized pid columns."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    scheme = (F.when(k % 4 == 0, "orcid")
              .when(k % 4 == 1, "orcid_pending")
              .when(k % 4 == 2, "ror"))
    top = F.when(k % 2 == 1, F.concat(F.lit("T-"), k.cast("string")))
    pid_val = F.concat(F.lit("P-"), k.cast("string"))
    coalesced = F.coalesce(
        top, F.when(scheme.isin("orcid", "orcid_pending"), pid_val))
    return cust.select(
        k.cast("bigint").alias("c_custkey"),
        F.when(coalesced.isNotNull(),
               F.concat(F.lit("https://orcid.org/"), coalesced))
        .alias("orcid_url"),
    )


ORACLE_ORCID_COALESCE = """
WITH t AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 4 = 0 THEN 'orcid'
              WHEN c_custkey % 4 = 1 THEN 'orcid_pending'
              WHEN c_custkey % 4 = 2 THEN 'ror' END AS scheme,
         CASE WHEN c_custkey % 2 = 1 THEN 'T-' || CAST(c_custkey AS VARCHAR) END AS top,
         'P-' || CAST(c_custkey AS VARCHAR) AS pid_val
  FROM customer
)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       'https://orcid.org/' || COALESCE(top,
           CASE WHEN scheme IN ('orcid', 'orcid_pending') THEN pid_val END)
       AS orcid_url
FROM t
"""


def q_slug_latlng(spark, sf_dir):
    """F12 dbpedia slug + F13 latlng split (reference create_graph.py:106-123)
    over nation x region names."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    official = F.concat_ws(" ", "n_name", "r_name")
    latlng = F.concat(F.col("n_nationkey").cast("string"), F.lit(".5,-"),
                      F.col("r_regionkey").cast("string"), F.lit(".25"))
    return j.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        F.regexp_replace(official, " ", "_").alias("dbpedia"),
        F.try_element_at(F.split(latlng, ","), F.lit(1))
         .cast("double").alias("latitude"),
        F.try_element_at(F.split(latlng, ","), F.lit(2))
         .cast("double").alias("longitude"),
    )


ORACLE_SLUG_LATLNG = """
WITH t AS (
  SELECT n_nationkey,
         n_name || ' ' || r_name AS official,
         CAST(n_nationkey AS VARCHAR) || '.5,-' || CAST(r_regionkey AS VARCHAR) || '.25' AS latlng
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       replace(official, ' ', '_') AS dbpedia,
       CAST(string_split(latlng, ',')[1] AS DOUBLE) AS latitude,
       CAST(string_split(latlng, ',')[2] AS DOUBLE) AS longitude
FROM t
"""


def q_mint_ids(spark, sf_dir):
    """F17 identity minting, deterministic variant: sha2 of the natural key
    (uuid4 in the reference, models.py:229 — nondeterministic ids break
    idempotent re-ingest; the engine mints stable ids, with F.uuid()
    documented for true one-shot identity)."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        F.sha2(F.concat_ws("|", "s_name",
                           F.col("s_nationkey").cast("string")), 256)
        .alias("minted_uuid"),
    )


ORACLE_MINT = """
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
       sha256(concat_ws('|', s_name, CAST(s_nationkey AS VARCHAR))) AS minted_uuid
FROM supplier
"""


# ---------------------------------------------------------------------------
# A3 full 14-metric ingestion scorecard (reference doi.py:202-283)
# ---------------------------------------------------------------------------

def q_ingest_scorecard(spark, sf_dir):
    """The complete ingestion report in ONE aggregation pass over a
    deterministic DOI-tracker frame synthesized from orders."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    tracker = o.select(
        k.alias("doi"),
        (F.lit(1) + (k % 3 == 0).cast("int")).alias("n_submitted"),
        (k % 11 != 0).alias("valid_pattern"),
        (k % 4 == 0).alias("already_exists"),
        (k % 2 == 0).alias("openalex_metadata"),
        (k % 5 != 0).alias("openaire_metadata"),
        (k % 7 != 0).alias("ingestion_success"),
    )
    return ingestion_metrics(tracker, update_metadata=False)


ORACLE_INGEST_SCORECARD = """
WITH t AS (
  SELECT o_orderkey AS doi,
         1 + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS n_submitted,
         o_orderkey % 11 <> 0 AS valid_pattern,
         o_orderkey % 4 = 0 AS already_exists,
         o_orderkey % 2 = 0 AS openalex_metadata,
         o_orderkey % 5 <> 0 AS openaire_metadata,
         o_orderkey % 7 <> 0 AS ingestion_success
  FROM orders
),
f AS (
  SELECT *, valid_pattern AND NOT already_exists AS processed FROM t
)
SELECT CAST(sum(n_submitted) AS BIGINT) AS submitted_dois,
       CAST(count_if(n_submitted > 1) AS BIGINT) AS duplicated_submissions,
       CAST(count_if(processed) AS BIGINT) AS processed_dois,
       CAST(count_if(valid_pattern AND NOT already_exists) AS BIGINT) AS new_dois,
       CAST(count_if(valid_pattern AND already_exists) AS BIGINT) AS existing_dois,
       CAST(count_if(processed AND ingestion_success AND already_exists) AS BIGINT)
           AS updated_existing_dois,
       CAST(count_if(ingestion_success) AS BIGINT) AS ingested_dois,
       CAST(count_if(processed AND ingestion_success) AS BIGINT) AS metadata_pass,
       CAST(count_if(processed AND NOT ingestion_success) AS BIGINT) AS metadata_failure,
       CAST(count_if(valid_pattern) AS BIGINT) AS valid_pattern_dois,
       CAST(count_if(NOT valid_pattern) AS BIGINT) AS invalid_pattern_dois,
       CAST(count_if(processed AND openalex_metadata) AS BIGINT) AS openalex_success,
       CAST(count_if(processed AND openaire_metadata) AS BIGINT) AS openaire_success,
       0.0 AS total_time_seconds
FROM f
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints (wires operators.dedup.simhash to a checked row)
# ---------------------------------------------------------------------------

def q_simhash_fp(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id", bits=16).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("simhash").cast("bigint").alias("simhash"))


def _oracle_simhash(bits: int = 16) -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits))
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
        for i in range(bits))
    return rf"""
WITH tok AS (
  SELECT DISTINCT id, tok FROM (
    SELECT doc_id AS id, unnest({tokens_sql()}) AS tok FROM documents)
),
h AS (
  SELECT id,
         CAST(concat('0x', substr(md5(tok), 1, {bits // 4})) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT id,
       {votes}
  FROM h GROUP BY id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST({fp} AS BIGINT) AS simhash
FROM votes
"""


ORACLE_SIMHASH = _oracle_simhash(16)


# ---------------------------------------------------------------------------
# ANN with real random-hyperplane LSH (every coordinate contributes)
# ---------------------------------------------------------------------------

def q_ann_hyperplane_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN: deterministic +-1 md5-parity
    hyperplanes give the cosine-LSH collision guarantee (the sign-of-
    first-coords variant only inspects 4 of 64 dims); same bucket
    equi-join plan shape."""
    from ..operators.ann import hyperplane_lsh_bucket, lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, queries, k=5, n_bits=4,
                    bucket_fn=hyperplane_lsh_bucket).select(
        "query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"))


def _hyperplane_dot_sql(plane: int) -> str:
    # j is 1-based in DuckDB lambdas; the md5 seed uses 0-based coords
    return (
        "list_reduce(list_transform(embedding, (x, j) -> "
        "CAST(x AS DOUBLE) * CASE WHEN substr(md5("
        f"'{plane}:' || CAST(j - 1 AS VARCHAR)), 1, 1) < '8' "
        "THEN 1.0 ELSE -1.0 END), (acc, v) -> acc + v)")


ORACLE_ANN_HYPERPLANE = f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         (CASE WHEN {_hyperplane_dot_sql(0)} > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN {_hyperplane_dot_sql(1)} > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN {_hyperplane_dot_sql(2)} > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN {_hyperplane_dot_sql(3)} > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
      FROM bucketed WHERE vec_id < 5),
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


# ---------------------------------------------------------------------------
# Multimodal: binary payload + narrow metadata columns
# ---------------------------------------------------------------------------

def q_binary_meta(spark, sf_dir):
    """Binary-column plumbing: payload as binary + JVM-side metadata
    (length, content hash) — the narrow columns analytic scans read so the
    payload column is never materialized (column pruning)."""
    d = _t(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return attach_binary_metadata(media).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("byte_len").cast("bigint").alias("byte_len"),
        F.col("sha256"),
    )


ORACLE_BINARY_META = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha256
FROM documents
"""


QUERIES_EXT = {
    "resolve_cascade": q_resolve_cascade,
    "graph_components": q_graph_components,
    "graph_pagerank": q_graph_pagerank,
    "max_over_keys": q_max_over_keys,
    "null_branch_dispatch": q_null_branch_dispatch,
    "guard_empty": q_guard_empty,
    "initial_key_join": q_initial_key_join,
    "orcid_coalesce": q_orcid_coalesce,
    "slug_latlng": q_slug_latlng,
    "mint_ids": q_mint_ids,
    "ingest_scorecard": q_ingest_scorecard,
    "simhash_fp": q_simhash_fp,
    "binary_meta": q_binary_meta,
    "ann_hyperplane_topk": q_ann_hyperplane_topk,
}

ORACLE_EXT = {
    "resolve_cascade": ORACLE_RESOLVE,
    "graph_components": ORACLE_COMPONENTS,
    "graph_pagerank": ORACLE_PAGERANK,
    "max_over_keys": ORACLE_MAX_KEYS,
    "null_branch_dispatch": ORACLE_NULL_BRANCH,
    "guard_empty": ORACLE_GUARD,
    "initial_key_join": ORACLE_INITIAL_KEY,
    "orcid_coalesce": ORACLE_ORCID_COALESCE,
    "slug_latlng": ORACLE_SLUG_LATLNG,
    "mint_ids": ORACLE_MINT,
    "ingest_scorecard": ORACLE_INGEST_SCORECARD,
    "simhash_fp": ORACLE_SIMHASH,
    "binary_meta": ORACLE_BINARY_META,
    "ann_hyperplane_topk": ORACLE_ANN_HYPERPLANE,
}


# ---------------------------------------------------------------------------
# PageRank on a DIRECTED graph with sinks — in-plan dangling-mass path
# ---------------------------------------------------------------------------


def q_graph_pagerank_dangling(spark, sf_dir):
    """PageRank over the DIRECTED supplier->part graph: every part is a
    sink (no out-edges), so the dangling-mass redistribution path is
    exercised for real — and it runs IN-PLAN (1-row sink-rank aggregate
    crossJoin-broadcast into the update), zero driver round-trips in the
    loop, unlike the collect()-per-round shape this replaced (round-4
    VERDICT #2). Same e4 quantization rationale as graph_pagerank: both
    engines run the identical IEEE recurrence up to summation order."""
    from .queries_ext5 import _decode_node
    li = _t(spark, sf_dir, "lineitem").select("l_partkey",
                                              "l_suppkey").distinct()
    # BIGINT ids, output-only decode (same narrowing as graph_pagerank)
    edges = li.select(
        (F.col("l_suppkey").cast("bigint") * 2).alias("src"),
        (F.col("l_partkey").cast("bigint") * 2 + 1).alias("dst"))
    pr = pagerank(edges, n_iter=5)
    return pr.select(
        _decode_node(F.col("id"), "p").alias("id"),
        F.round(F.col("rank") * 1e4).cast("bigint").alias("rank_e4"))


def _oracle_pagerank_dangling(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled PageRank WITH the dangling term: each stage computes the
    sink-node rank mass dm{i} (nodes absent from deg) and folds dm/n into
    the update — the SQL twin of the crossJoin-broadcast plan. Literal
    parity rules as _oracle_pagerank."""
    d = ("CAST(0.85 AS DOUBLE)" if damping == 0.85
         else f"CAST({damping!r} AS DOUBLE)")
    parts = ["""
WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
edges AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                 'p' || CAST(l_partkey AS VARCHAR) AS dst FROM li),
nodes AS (SELECT DISTINCT src AS id FROM edges
          UNION SELECT DISTINCT dst AS id FROM edges),
deg AS (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY 1),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS id, sum(r.rank / d.out_deg) AS in_sum
  FROM edges e JOIN r{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id
  GROUP BY e.dst),
d{i} AS (
  SELECT COALESCE(sum(r.rank), CAST(0.0 AS DOUBLE)) AS dm
  FROM r{i - 1} r LEFT JOIN deg ON r.id = deg.id
  WHERE deg.id IS NULL),
r{i} AS (
  SELECT nodes.id,
         (CAST(1.0 AS DOUBLE) - {d}) / (SELECT n FROM nn)
         + {d} * (COALESCE(c{i}.in_sum, CAST(0.0 AS DOUBLE))
                  + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
  FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id)""")
    parts.append(f"""
SELECT id, CAST(round(rank * 1e4) AS BIGINT) AS rank_e4 FROM r{n_iter}
""")
    return "".join(parts)


ORACLE_PAGERANK_DANGLING = _oracle_pagerank_dangling(5)

QUERIES_EXT["graph_pagerank_dangling"] = q_graph_pagerank_dangling
ORACLE_EXT["graph_pagerank_dangling"] = ORACLE_PAGERANK_DANGLING


# ---------------------------------------------------------------------------
# Star-contraction connected components (O(log n) rounds, any diameter)
# ---------------------------------------------------------------------------


def q_graph_components_star(spark, sf_dir):
    """Same component semantics as graph_components (and verified by the
    SAME recursive-CTE oracle), computed with alternating large-star /
    small-star contraction (Kiveris et al.) instead of min-label
    propagation: O(log n) rounds regardless of graph diameter — the
    variant that survives long-chain topologies a 100 TB web-dedup graph
    contains and label propagation cannot finish."""
    from ..graph.analytics import connected_components_star
    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_star_edges(docs, "text", "doc_id", k=4, bands=2)
    comp = connected_components_star(edges, nodes=docs.select("doc_id"))
    return comp.select(F.col("id").cast("bigint").alias("doc_id"),
                       F.col("component").cast("bigint").alias("component"))


QUERIES_EXT["graph_components_star"] = q_graph_components_star
ORACLE_EXT["graph_components_star"] = ORACLE_COMPONENTS
