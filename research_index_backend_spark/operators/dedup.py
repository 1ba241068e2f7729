"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's author dedup (exact ORCID + fuzzy name,
reference src/research_index_backend/create_graph_from_doi.py:104-176),
these are the text-corpus dedup primitives a 100 TB pipeline needs:

  exact_dedup        — hash-groupBy on a content fingerprint
  jaccard_pairs      — token-set Jaccard via inverted-index self-join
  minhash_signatures — k MinHash values per doc (md5-based, deterministic)
  minhash_lsh_pairs  — LSH banding: candidate pairs share >=1 band bucket
  simhash            — 16-bit SimHash fingerprint per document

Design notes for scale:
- All hashing is md5-based and deterministic => idempotent re-runs, and
  every step is expressible in ANSI SQL (DuckDB-oracle checkable).
- The Jaccard join is an inverted-index join (explode tokens, self-join on
  token, count co-occurrences) — the classic set-similarity join; its cost
  is sum over tokens of df(token)^2, so stop-word-ish ultra-frequent tokens
  should be filtered first at real scale (max_token_df knob).
- MinHash-LSH replaces the quadratic token join with banding: only docs
  sharing a band bucket are compared. Bucket join is an equi-join on
  (band_id, band_hash) — shuffle, no cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens


def tokens_col(text: Column | str) -> Column:
    """Distinct :func:`textstats.tokens` of ``text``: the Jaccard set."""
    return F.array_distinct(tokens(text))


def shingles_col(text: Column | str, n: int = 5) -> Column:
    """Distinct lowercase character n-grams (shingles) — the n-gram-Jaccard
    unit. All JVM-side: sequence(1, len-n+1) + substr per position.

    Two deliberate shapes:
    - Shorter-than-n texts yield an empty set (Spark's sequence() would
      count DOWN for start > stop, so the degenerate case is guarded).
    - lower() is applied to each n-char shingle, NOT to the whole string
      inside the lambda: higher-order-function lambdas are interpreted,
      and an expression referencing lower(text) re-lowers the ENTIRE
      string per element — O(len^2) per document (measured 5x the whole
      explode cost). lower(substr) == substr(lower) for any per-character
      case mapping (everything but locale oddities), and the SQL oracle
      mirrors this exact form so parity is by construction.

    Caveat (r13): substr(i, n) itself is also O(i) — UTF8String walks
    codepoints from the string start — so shingling is O(len^2) per
    document in the byte-walk sense. Measured harmless at ~1KB docs:
    a staged-char-array alternative (split to a named column, grams
    via slice+concat transform) was 2.9x SLOWER at the 100x probe in
    an interleaved same-session A/B — interpreted HOF per-gram
    allocations cost more than the codegen byte walk. Revisit only if
    the corpus moves to much longer documents."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(c) < n, F.array().cast("array<string>")) \
        .otherwise(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length(c) - n + 1),
            lambda i: F.lower(c.substr(i, F.lit(n))))))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: md5(content) with >1 member, reporting the
    canonical (min id) representative and the group size."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  threshold: float = 0.5,
                  max_token_df: int | None = None,
                  tokenizer=None,
                  sizes_on_filtered: bool = False) -> DataFrame:
    """Token-set Jaccard similarity join via inverted index.

    Returns (id_a, id_b, jaccard) for unordered pairs above threshold.
    max_token_df drops tokens appearing in more than N docs (stop-word
    guard — essential at scale, optional at test SF). tokenizer maps the
    text column to an array of set elements (default whitespace words;
    pass shingles for n-gram Jaccard — see ngram_jaccard_pairs).

    sizes_on_filtered selects which set the Jaccard is over:
    - False (default): sizes from the FULL sets; capped tokens only shrink
      the measured intersection, so pairs can only be under-scored — the
      conservative choice when the cap removes few elements.
    - True: Jaccard over the FILTERED (discriminative) feature space —
      sizes from the capped sets too. Required when the cap removes MOST
      elements (char shingles: ubiquitous n-grams are the bulk of every
      set, and full-set sizes would push every true dup below threshold).
    """
    tokenizer = tokenizer or tokens_col
    toks = df.select(F.col(id_col).alias("id"),
                     tokenizer(text_col).alias("toks"))
    inv = toks.select("id", F.explode("toks").alias("tok"))
    sizes = None
    if not (sizes_on_filtered and max_token_df is not None):
        sizes = toks.select("id", F.size("toks").alias("sz"))
    return _jaccard_from_inverted(inv, sizes, threshold, max_token_df)


def _jaccard_from_inverted(inv: DataFrame, sizes: DataFrame | None,
                           threshold: float,
                           max_token_df: int | None) -> DataFrame:
    """Common inverted-index Jaccard core over (id, tok) rows.

    sizes: (id, sz) set sizes, or None to derive them from the (possibly
    df-capped) index — the filtered-feature-space variant.
    """
    if max_token_df is not None:
        rare = (inv.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_token_df).select("tok"))
        inv = inv.join(rare, "tok", "left_semi")
        # The filtered index feeds sizes (optionally) and BOTH sides of the
        # pair self-join — without materialization the tokenize+explode
        # scan re-executes 3-4x (measured 17s -> 9s on the shingle query).
        # Post-cap it is small by construction (only sub-cap-df tokens
        # survive), so one localCheckpoint is the right trade; at cluster
        # scale the equivalent move is writing the filtered index to a
        # table once (one materialization, many readers).
        inv = inv.localCheckpoint()
    if sizes is None:
        sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = inv.select(F.col("tok"), F.col("id").alias("id_a"))
    b = inv.select(F.col("tok"), F.col("id").alias("id_b"))
    co = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        co.join(sz_a, "id_a").join(sz_b, "id_b")
        .withColumn("jaccard",
                    F.col("inter") /
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 5, threshold: float = 0.5,
                        max_token_df: int | None = None) -> DataFrame:
    """Character-n-gram (shingle) Jaccard join — order-robust near-dup
    detection (word-swap edits barely move the shingle set, unlike the
    word-token set). Same inverted-index plan as jaccard_pairs with
    shingles as the set elements.

    max_token_df is load-bearing here, not optional: common n-grams live
    in virtually every document, so sum(df^2) over uncapped shingles is
    quadratic in corpus size (measured: cap 400 -> 92M pair-increments at
    sf0.1, cap 100 -> 311k). The Jaccard is therefore computed over the
    FILTERED feature space: discriminative shingles only — true dup pairs
    share all of them (sim 1.0) while the ubiquitous bulk no longer drowns
    the score.

    Plan shape: the inverted index is built by exploding POSITIONS and
    slicing in a plain projection — not via an array transform —
    because higher-order-function lambdas run interpreted (outside
    whole-stage codegen) and their per-gram allocations dominate
    (r13 interleaved 100x A/B: 23.8s vs 68.7s staged-array; see
    _shingle_inverted). explode+substr+distinct is all codegen;
    per-doc distinct-ness comes from the global (id, tok) distinct,
    which the downstream groupBys absorb into one shuffle."""
    inv = _shingle_inverted(df, text_col, id_col, n)
    return _jaccard_from_inverted(inv, None, threshold, max_token_df)


def _shingle_inverted(df: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """(id, tok) distinct lowercase char-n-gram inverted index:
    explode positions -> substr -> lower, all whole-stage codegen.

    Negative result (r13, recorded so it isn't retried): a staged
    char-array variant — split to a named column, n-gram strings via
    slice+concat transform before the explode — measured 68.7s vs
    23.8s for THIS form at the 100x probe, interleaved in one session
    (3 rounds each). substr(pos, n) does walk codepoints from the
    string start (O(pos) per call), but at ~1KB documents that byte
    walk is far cheaper than the interpreted HOF's per-gram
    allocations (slice array + concat string, outside whole-stage
    codegen). The O(len^2) byte-walk would only dominate for much
    longer documents; revisit the staged form if the corpus moves to
    10KB+ docs."""
    c = F.col(text_col)
    positions = F.when(F.length(c) < n, F.array().cast("array<int>")) \
        .otherwise(F.sequence(F.lit(1), F.length(c) - n + 1))
    return (
        df.select(F.col(id_col).alias("id"), c.alias("__t"),
                  F.explode(positions).alias("__p"))
        .select("id",
                F.lower(F.col("__t").substr(F.col("__p"), F.lit(n)))
                .alias("tok"))
        .distinct()
    )


def ngram_containment_pairs(df: DataFrame, text_col: str, id_col: str,
                            n: int = 5, threshold_e6: int = 700_000,
                            max_token_df: int | None = None) -> DataFrame:
    """Character-n-gram CONTAINMENT join: (id_a, id_b, cont_e6) for pairs
    whose shared discriminative shingles cover >= threshold of the
    SMALLER set — max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B|/min(|A|,|B|).

    Containment is the asymmetric cousin of Jaccard and the right scorer
    for subset documents: a short doc quoted whole inside a long one has
    near-1.0 containment but low Jaccard (the union is dominated by the
    long doc), so a Jaccard threshold silently keeps the duplicate — the
    classic truncation/quote blind spot in training-data dedup.

    Same inverted-index + df-cap plan as ngram_jaccard_pairs (cost is
    sum(df^2) over the CAPPED shingles, linear-ish in corpus size); the
    score is quantized to an e6 integer with integer division BEFORE
    thresholding so membership is bit-stable across engines.
    """
    inv = _shingle_inverted(df, text_col, id_col, n)
    if max_token_df is not None:
        rare = (inv.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_token_df).select("tok"))
        inv = inv.join(rare, "tok", "left_semi")
        # one materialization, three readers (sizes + both join sides) —
        # same trade as _jaccard_from_inverted.
        inv = inv.localCheckpoint()
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = inv.select("tok", F.col("id").alias("id_a"))
    b = inv.select("tok", F.col("id").alias("id_b"))
    co = (a.join(b, "tok")
          .filter(F.col("id_a") < F.col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(F.count(F.lit(1)).alias("inter")))
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (co.join(sz_a, "id_a").join(sz_b, "id_b")
            .select("id_a", "id_b",
                    F.expr("inter * 1000000 div least(sz_a, sz_b)")
                    .alias("cont_e6"))
            .filter(F.col("cont_e6") >= threshold_e6))


def adaptive_lsh_bits(n_rows: int, target_bucket: int = 125,
                      floor_bits: int = 4) -> int:
    """Bucket-granularity sizing for LSH self-joins: enough bits that the
    AVERAGE bucket holds ~target_bucket rows — ceil(log2(N/target)),
    floored at floor_bits.

    This is the knob that keeps bucketed near-dup LINEAR as the corpus
    grows: with a FIXED bit count, bucket size grows with N and the
    per-bucket self-join grows with N^2 — measured on this repo's 10x
    probe as a 13.6x/14.1x wall-clock blow-up for 10x data
    (BENCH_HISTORY r7, embedding family) before this sizing landed.
    More bits lower per-table recall; n_tables is the compensating
    recall knob. The checked SFs (<=2000 vectors) all size to
    floor_bits, so oracle SQL with hardcoded plane counts stays valid.
    """
    import math
    return max(floor_bits,
               math.ceil(math.log2(max(n_rows / float(target_bucket),
                                       1.0))))


def embedding_near_dup_pairs(corpus: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold_e6: int = 300_000,
                             n_bits: int = 4,
                             bucket_fn=None,
                             max_bucket_size: int | None = None,
                             max_bucket_denom: int | None = None,
                             n_tables: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim_e6) for
    same-LSH-bucket pairs whose cosine similarity >= threshold.

    The all-pairs O(N^2) cosine join becomes a per-bucket self-join (the
    100 TB move: candidates drop ~2^bits-fold). sim is quantized to an e6
    integer BEFORE thresholding so membership is bit-stable across engines
    (both sides round the same double; a raw float threshold could
    disagree in the last ulp at the boundary).

    max_bucket_size is the hot-bucket guard (same semantics as
    minhash_lsh_pairs): a b-member bucket emits b(b-1)/2 pairs, so one
    degenerate bucket — near-zero vectors, a dominant embedding
    direction — is a quadratic blob that melts the task owning it at
    100 TB. Buckets above the cap are excluded from pairing (an over-full
    bucket is a non-discriminative hash region, not a dup cluster).

    max_bucket_denom makes the cap CORPUS-RELATIVE: effective cap =
    greatest(max_bucket_size, corpus_count div denom), computed in-plan
    (1-row aggregate broadcast into the bucket filter — no driver
    action). A fixed absolute cap mis-scales: with 2^bits buckets, the
    average bucket holds N/2^bits rows, so any constant eventually
    excludes EVERY bucket as N grows (observed: cap=100 at sf0.1 left
    zero candidates). "A bucket holding more than 1/denom of the corpus
    is non-discriminative" scales with the data.

    n_tables > 1 is the recall knob that pays back what bucketing and the
    cap cost: L INDEPENDENT hyperplane families (plane_offset = t*n_bits)
    each bucket the corpus, candidates are the union — collision
    probability 1-(1-p^b)^L instead of one table's p^b. All L buckets
    come from ONE corpus scan (explode over an L-struct array) and join
    on (table, bucket) in ONE shuffle; the cap applies per (table,
    bucket). Pairs caught by several tables are deduped after scoring.
    """
    from .ann import cosine_sim, hyperplane_lsh_bucket, sign_lsh_bucket
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    if n_tables == 1:
        bucket_fn = bucket_fn or sign_lsh_bucket
        tagged = corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.lit(0).alias("table"),
            bucket_fn(F.col(vec_col), n_bits).alias("bucket"))
    else:
        tbl = F.array(*[
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_lsh_bucket(F.col(vec_col), n_bits,
                                      plane_offset=t * n_bits)
                .alias("bucket"))
            for t in range(n_tables)])
        tagged = (corpus.select(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("vec"),
                                F.explode(tbl).alias("tb"))
                  .select("id", "vec", F.col("tb.table").alias("table"),
                          F.col("tb.bucket").alias("bucket")))
    if max_bucket_size is not None or max_bucket_denom is not None:
        cap = F.lit(max_bucket_size if max_bucket_size is not None else 0)
        counts = (tagged.groupBy("table", "bucket")
                  .agg(F.count(F.lit(1)).alias("__n")))
        if max_bucket_denom is not None:
            # corpus size per table == corpus size (every id lands in
            # exactly one bucket per table)
            total = corpus.agg(
                F.count(F.lit(1)).alias("__total"))
            counts = counts.crossJoin(F.broadcast(total))
            cap = F.greatest(
                cap, F.floor(F.col("__total") / max_bucket_denom))
        ok = (counts.filter(F.col("__n") <= cap)
              .select("table", "bucket"))
        # both self-join sides read the capped table — materialize once
        # instead of re-bucketing the corpus per consumer
        tagged = tagged.join(ok, ["table", "bucket"], "left_semi") \
            .localCheckpoint()
    a = tagged.select("table", "bucket", F.col("id").alias("id_a"),
                      F.col("vec").alias("va"))
    b = tagged.select("table", "bucket", F.col("id").alias("id_b"),
                      F.col("vec").alias("vb"))
    pairs = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim_e6",
                    F.round(cosine_sim(F.col("va"), F.col("vb")) * 1e6)
                    .cast("bigint"))
        .filter(F.col("sim_e6") >= threshold_e6)
        .select("id_a", "id_b", "sim_e6")
    )
    # one table -> each id holds one bucket, pairs are already unique;
    # multi-table unions need the dedup (sim_e6 is deterministic per pair)
    return pairs.distinct() if n_tables > 1 else pairs


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       k: int = 8) -> DataFrame:
    """k deterministic MinHash values per document.

    Hash family: h_i(tok) = md5(i || ':' || tok); the signature component is
    the lexicographic MIN over the doc's token set. Lexicographic min of a
    uniform hash is a valid min-hash (order statistics over a total order),
    and — crucially — it is byte-identical in any engine with md5, so the
    whole pipeline has a SQL oracle.
    """
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens_col(text_col)).alias("tok"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return toks.groupBy("id").agg(*aggs)


def lsh_band_table(sig: DataFrame, k: int, bands: int,
                   keep: tuple = ()) -> DataFrame:
    """(id, band, bucket[, *keep]) rows from a MinHash signature table:
    k hashes split into `bands` bands of k/bands rows, bucket = md5 of
    the band's concatenated signature slice. The SINGLE definition of
    the band/bucket format — shared by the full self-join pairing
    (minhash_lsh_pairs), the incremental batch-vs-index path
    (plans.queries_ext8.q_incremental_dedup) and the streaming index
    probe (streaming.dedup.index_probe_stream); `keep` passes extra
    columns (e.g. the mh components for signature-space verification)
    through untouched, so stream-side callers never rebuild the format."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *parts)).alias("bucket")))
    return sig.select(
        F.col("id"), *keep, F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", *keep, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      k: int = 8, bands: int = 4,
                      max_bucket_size: int | None = None,
                      sig: DataFrame | None = None) -> DataFrame:
    """LSH banding over MinHash signatures: k hashes split into `bands`
    bands of k/bands rows; docs sharing any band bucket become a candidate
    pair. Returns distinct (id_a, id_b) candidates — verify with
    jaccard_pairs or a full signature comparison downstream.

    max_bucket_size is the hot-bucket guard: a b-member bucket emits
    b(b-1)/2 pairs, so ONE over-common band signature (boilerplate text,
    empty-ish docs) melts the task that owns it at 100 TB. Buckets above
    the cap are excluded from pairing entirely — the same hub-capping move
    as TWO_HOP_DEGREE_CAP, and standard LSH practice (an over-full bucket
    is a non-discriminative signature, not a dup cluster; route those to
    the linear star-edge/components path instead, minhash_lsh_star_edges).
    """
    assert k % bands == 0, "k must divide evenly into bands"
    if sig is None:
        sig = minhash_signatures(df, text_col, id_col, k=k)
    # callers that also consume the signatures downstream (e.g. the
    # signature-space Jaccard estimator) pass a materialized sig to avoid
    # recomputing the tokenize+min-agg per consumer
    exploded = lsh_band_table(sig, k, bands)
    if max_bucket_size is not None:
        ok = (exploded.groupBy("band", "bucket")
              .agg(F.count(F.lit(1)).alias("__n"))
              .filter(F.col("__n") <= max_bucket_size)
              .select("band", "bucket"))
        exploded = exploded.join(ok, ["band", "bucket"], "left_semi")
        # both self-join sides + the cap agg read this — materialize the
        # (small, post-cap) band table once instead of re-running the
        # MinHash signature aggregation per consumer
        exploded = exploded.localCheckpoint()
    a = exploded.select("band", "bucket", F.col("id").alias("id_a"))
    b = exploded.select("band", "bucket", F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_star_edges(df: DataFrame, text_col: str, id_col: str,
                           k: int = 8, bands: int = 4) -> DataFrame:
    """Bucket-connectivity edges in LINEAR size: each bucket member links to
    the bucket's min-id representative (a star), instead of all pairs.

    Connected components over these stars are IDENTICAL to components over
    minhash_lsh_pairs' cliques (bucket co-membership is the connectivity
    relation either way), but a b-member bucket emits b-1 edges, not
    b(b-1)/2 — the difference between linear and quadratic in bucket size,
    which is what survives a hot bucket at 100 TB. Use the pair form when
    you need the pairs themselves (Jaccard verification); use this for
    component/dedup-group analysis.
    """
    assert k % bands == 0, "k must divide evenly into bands"
    rows_per_band = k // bands
    sig = minhash_signatures(df, text_col, id_col, k=k)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *parts)).alias("bucket")))
    exploded = sig.select(
        F.col("id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    # rep-agg + join both read this — materialize so the MinHash signature
    # aggregation runs once, not twice (same move as minhash_lsh_pairs)
    exploded = exploded.localCheckpoint()
    rep = exploded.groupBy("band", "bucket").agg(F.min("id").alias("rep"))
    return (
        exploded.join(rep, ["band", "bucket"])
        .filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("id").alias("dst"))
        .distinct()
    )


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS algorithm): hash every k-gram, slide a w-hash window, keep
    each window's minimum hash; the distinct kept hashes are the doc's
    fingerprint set. Guarantees: any shared substring of length >= k+w-1
    yields at least one shared fingerprint, while storing ~2/(w+1) of the
    k-gram hashes — positional near-dup detection that sampling can't give.

    Plan: explode positions -> md5 k-gram narrowed to a 60-bit BIGINT
    (plain projections, codegen — no interpreted HOF lambdas) -> running
    min over (id ORDER BY pos ROWS w-1 FOLLOWING) -> distinct. One
    shuffle on id for the window, one for the distinct; both
    hash-partitioned, no skew beyond document length.
    Negative result (r13): a staged-char-array variant (k-gram strings
    via slice+concat transform before the posexplode, md5 in codegen
    after) measured 76.2s vs 32.1s for this form at the 100x probe,
    interleaved in one session — the interpreted per-gram allocations
    cost more than substr's O(pos) codepoint walk saves at ~1KB docs
    (same finding as _shingle_inverted; serial cross-session A/Bs had
    suggested the opposite and were host-drift artifacts).

    The hash is the first 15 hex digits of the md5 as an int64, NOT the
    32-char string: a position-exploded corpus materializes one row per
    character, so the hash column dominates the sort/shuffle width —
    8-byte ints vs 48-byte UTF8 strings measured 12.1s -> 3.8s on a 10x
    corpus (the string version went superlinear from sort spill; SURVEY
    4.4 round-7). Truncation keeps the winnowing guarantee (min over a
    uniform 60-bit space; engine-portable via CAST('0x'||substr AS
    BIGINT) in DuckDB).
    """
    from pyspark.sql import Window
    c = F.col(text_col)
    positions = F.when(F.length(c) < k, F.array().cast("array<int>")) \
        .otherwise(F.sequence(F.lit(1), F.length(c) - k + 1))
    md5 = F.md5(F.lower(F.col("__t").substr(F.col("pos"), F.lit(k))))
    grams = (
        df.select(F.col(id_col).alias("id"), c.alias("__t"),
                  F.explode(positions).alias("pos"))
        .select("id", "pos",
                F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint")
                .alias("h"))
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("wmin", F.min("h").over(win))
        .withColumn("mx", F.max("pos").over(Window.partitionBy("id")))
        .filter(F.col("pos") <= F.col("mx") - (w - 1))
    )
    return sel.select("id", F.col("wmin").alias("fp")).distinct()


def simhash(df: DataFrame, text_col: str, id_col: str,
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per token take `bits` bits of md5(token); each
    bit votes +1/-1; fingerprint bit = sign of the vote sum.

    Implemented as explode(token) x explode(bit) then a conditional-sum
    aggregation and a bit-reassembly — all JVM-side expressions. Near-dup
    candidates are docs whose fingerprints differ in <=3 bits (compare via
    bit_count(xor) downstream).
    """
    if bits % 4 or not 4 <= bits <= 60:
        # 60-bit ceiling keeps every intermediate (h, 2**i weights, the
        # assembled fingerprint) inside a signed 64-bit long in both
        # engines; nibble-aligned so the hex-prefix hash is exact.
        raise ValueError(f"bits must be a multiple of 4 in [4, 60]: {bits}")
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens_col(text_col)).alias("tok"))
    # bits from the first bits/4 hex chars of md5
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4),
               16, 10).cast("long")
    toks = toks.withColumn("h", h)
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** i)
        fp = bit if fp is None else fp + bit
    return agg.select("id", fp.cast("long").alias("simhash"))
