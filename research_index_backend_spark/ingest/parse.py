"""OpenAire metadata parsing as a Spark plan (SURVEY.md §3.1 / M1+M3).

Reference behavior (reference src/research_index_backend/parser.py:96-192):
one Python loop per result explodes authors, coalesces pid→orcid
(parser.py:18-22), title-cases names (parser.py:24-25), repairs
mutual-substring first/last names (parser.py:26-29), falls back to
splitting `$` or the surname field (parser.py:31-56), decomposes the
publication date (parser.py:86-93), and dispatches resource_type on
@schemeid (parser.py:150-163).

Spark-first re-expression: the whole per-DOI loop is ONE lazy plan —
explode(results) → explode(authors) → column-expression author parse →
struct collect. Only two steps need Python (exact .title() and clean_html
NFC/unescape), both Arrow-batched pandas UDFs. At 100 TB of landed JSONL
this parses in parallel across executors with zero driver involvement;
the explicit OPENAIRE_SCHEMA (schemas.py) lets the json scan prune to the
dozen fields actually parsed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pytext import clean_html_udf, py_title_udf
from ..schemas import OPENAIRE_SCHEMA, OPENALEX_SCHEMA, ZENODO_V1_SCHEMA


def read_openaire_json(spark: SparkSession, path: str,
                       multiline: bool = True) -> DataFrame:
    """Read landed OpenAire response JSON (one envelope per file/line) with
    the explicit schema — no inference pass over 100 TB."""
    return (spark.read
            .option("multiLine", "true" if multiline else "false")
            .json(path, schema=OPENAIRE_SCHEMA))


def _parse_author_rows(rows: DataFrame, keys: list[str]) -> DataFrame:
    """parse_author (parser.py:11-70) over `rows`: the `keys` columns plus
    an AUTHOR_SCHEMA struct `a`.

    Returns keys + (first_name, last_name, orcid, rank), one row per author
    the reference's parse_author returns non-None for (unparseable names
    dropped).

    The cascade is staged: each step is projected as a column the next
    step reads, so every expression appears once in the plan. The two
    Python UDFs are nondeterministic (functions/pytext.py), which stops
    Catalyst from collapsing the stages back into one nested tree and from
    pushing the final filter below them; either would evaluate each UDF a
    second time per row.
    """
    a = F.col("a")
    first0, last0 = F.col("first0"), F.col("last0")
    first1, last1 = F.col("first1"), F.col("last1")
    first2, last2 = F.col("first2"), F.col("last2")
    first3, last3 = F.col("first3"), F.col("last3")
    toks, dollar_toks = F.col("toks"), F.col("dollar_toks")
    staged = rows.select(
        *keys,
        # F7: pid→orcid coalesce (parser.py:18-22). NOTE the reference
        # checks `if not orcid` (falsy: None or ""), mirrored via nullif('').
        F.coalesce(
            F.nullif(a["orcid"], F.lit("")),
            F.when(a["pid"]["id"]["scheme"].isin("orcid", "orcid_pending"),
                   a["pid"]["id"]["value"]),
        ).alias("orcid_raw"),
        F.coalesce(a["rank"].cast("int"), F.lit(1)).alias("rank"),
        # F5a input: the legacy `$` full name as non-empty tokens
        F.filter(F.split(F.coalesce(a["$"], F.lit("")), r"\s+"),
                 lambda t: t != "").alias("dollar_toks"),
        # F3: .title() on name/surname, None treated as "" (parser.py:24-25)
        py_title_udf(F.coalesce(a["name"], F.lit(""))).alias("first0"),
        py_title_udf(F.coalesce(a["surname"], F.lit(""))).alias("last0"),
    )
    # F4: mutual-substring repair (parser.py:26-29). Python's `x in y` is
    # True for x == "", where replace(y, "", "") is a no-op but the
    # trailing .strip() still runs — so the empty-substring branch must
    # trim too (round-2 ADVICE: ' Ab Cd ' with an empty twin is stripped
    # by the reference). A non-empty non-contained twin takes NO strip.
    staged = staged.withColumn(
        "last1", F.when((first0 != "") & F.contains(last0, first0),
                        F.trim(F.replace(last0, first0, F.lit(""))))
        .when(first0 == "", F.trim(last0))
        .otherwise(last0))
    staged = staged.withColumn(
        "first1", F.when((last1 != "") & F.contains(first0, last1),
                         F.trim(F.replace(first0, last1, F.lit(""))))
        .when(last1 == "", F.trim(first0))
        .otherwise(first0))
    # F5a: legacy `$` full-name split — only when both names empty
    # (parser.py:31-39); exactly-2-token split, else unparseable.
    use_dollar = (first1 == "") & (last1 == "") & (F.size(dollar_toks) > 0)
    two = F.size(dollar_toks) == 2
    staged = staged.withColumns({
        "first2": F.when(use_dollar, F.when(two, F.element_at(dollar_toks, 1)))
        .otherwise(first1),
        "last2": F.when(use_dollar, F.when(two, F.element_at(dollar_toks, 2)))
        .otherwise(last1),
    })
    # F5b: surname-only fallback (parser.py:40-56): clean_html, split on
    # narrow-NBSP U+202F, else on single space; 2 toks → (first, last),
    # >2 → (first, rest joined), 1 → unparseable.
    staged = staged.withColumn("cleaned", clean_html_udf(last2))
    nbsp_toks = F.split(F.col("cleaned"), "\u202f")
    staged = staged.withColumn(
        "toks", F.when(F.size(nbsp_toks) == 1, F.split(F.col("cleaned"), " "))
        .otherwise(nbsp_toks))
    need_split = last2.isNotNull() & (last2 != "") & \
        (first2.isNull() | (first2 == ""))
    staged = staged.withColumns({
        "first3": F.when(need_split, F.when(F.size(toks) >= 2,
                                            F.element_at(toks, 1)))
        .otherwise(first2),
        "last3": F.when(need_split,
                        F.when(F.size(toks) == 2, F.element_at(toks, 2))
                        .when(F.size(toks) > 2,
                              F.array_join(F.slice(toks, 2, 100000), " ")))
        .otherwise(last2),
    })
    ok = first3.isNotNull() & (first3 != "") & last3.isNotNull() & (last3 != "")
    orcid_raw = F.col("orcid_raw")
    return staged.filter(ok).select(
        *keys,
        first3.alias("first_name"),
        last3.alias("last_name"),
        # F6: ORCID URL format (parser.py:66)
        F.when(orcid_raw.isNotNull(),
               F.concat(F.lit("https://orcid.org/"), orcid_raw)).alias("orcid"),
        "rank",
    )


def _nest_authors(arts: DataFrame, authors: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Attach each article's parsed authors as an `authors` array in the
    original array order; an article with none gets []."""
    grouped = (
        authors.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("author_pos"),
            F.struct("first_name", "last_name", "orcid", "rank").alias("p"),
        ))).alias("ordered"))
        .select(*keys, F.transform("ordered", lambda s: s["p"]).alias("authors"))
    )
    return arts.join(grouped, keys, "left").withColumn(
        "authors", F.coalesce("authors", F.array().cast(
            "array<struct<first_name:string,last_name:string,"
            "orcid:string,rank:int>>")))


def _explode_results(envelopes: DataFrame) -> DataFrame:
    """(query_doi, result_idx, r) — one row per OpenAire result."""
    return envelopes.select(
        F.col("query_doi").alias("doi"),
        F.posexplode("results").alias("result_idx", "r"),
    )


def parse_authors(envelopes: DataFrame) -> DataFrame:
    """One row per parsed (doi, result_idx, author) — unparseable authors
    dropped, exactly the rows the reference's parse_author returns non-None
    for. Pandas UDFs run on the exploded rows (they cannot appear inside a
    higher-order transform lambda), so the explode happens first; the
    explode is also the right scale shape — author parsing parallelizes
    over rows, not over array elements inside a row.
    """
    rows = _explode_results(envelopes).select(
        "doi", "result_idx",
        F.posexplode_outer(F.col("r")["authors"]).alias("author_pos", "a"),
    )
    return _parse_author_rows(rows, ["doi", "result_idx", "author_pos"])


def read_zenodo_v1_json(spark: SparkSession, path: str,
                        multiline: bool = True) -> DataFrame:
    """Read legacy v1 envelopes (reference tests/fixtures/zenodo.json) with
    the explicit schema — same no-inference contract as the v2 reader."""
    return (spark.read
            .option("multiLine", "true" if multiline else "false")
            .json(path, schema=ZENODO_V1_SCHEMA))


def parse_zenodo_v1(envelopes: DataFrame) -> DataFrame:
    """Legacy v1 oaf envelope → the same article shape as parse_articles.

    The v1 shape (response.results.result[].metadata.oaf:entity.oaf:result,
    attributes as @keys, text as $) predates the Graph API the reference's
    parser.py consumes; the reference exercises it via its zenodo fixture.
    Creators are adapted onto the v2 author struct so the full parse_author
    cascade (_parse_author_rows: pid/orcid coalesce, .title(), mutual-substring
    repair, $-fallback split) applies unchanged — one behavior, two
    envelope dialects.
    """
    # Surrogate envelope id: the authors re-join below must NOT key on the
    # parsed doi — when both query_doi and the @classid='doi' pid are null
    # the null key never matches (authors silently dropped), and duplicate
    # envelopes sharing (doi, result_idx) would cross-merge author lists.
    # (env_id, result_idx) is unique by construction regardless of payload.
    rows = envelopes.withColumn(
        "env_id", F.monotonically_increasing_id()
    ).select(
        "env_id",
        F.col("query_doi"),
        F.posexplode(F.col("response")["results"]["result"])
        .alias("result_idx", "res"),
    ).select(
        "env_id", "query_doi", "result_idx",
        F.col("res")["metadata"]["oaf:entity"]["oaf:result"].alias("r"),
    )
    r = F.col("r")
    # try_element_at: an envelope with no @classid='doi' pid yields an
    # EMPTY filtered array, and plain element_at(_, 1) throws under ANSI
    # (INVALID_ARRAY_INDEX_IN_ELEMENT_AT) instead of returning null.
    doi_pid = F.try_element_at(
        F.filter(r["pid"], lambda p: p["@classid"] == "doi"), F.lit(1))
    resource = r["resourcetype"]
    journal_raw = r["journal"]["$"]
    pub_date = F.to_date(r["dateofacceptance"]["$"])
    arts = rows.select(
        "env_id",
        F.coalesce(F.col("query_doi"), doi_pid["$"]).alias("doi"),
        "result_idx",
        clean_html_udf(clean_html_udf(r["title"]["$"])).alias("title"),
        r["description"]["$"].alias("abstract"),
        F.when(journal_raw.isNotNull() & (journal_raw != ""),
               clean_html_udf(journal_raw)).otherwise(F.lit("")).alias("journal"),
        F.lit(None).cast("int").alias("issue"),
        F.lit(None).cast("int").alias("volume"),
        F.year(pub_date).alias("publication_year"),
        F.month(pub_date).alias("publication_month"),
        F.dayofmonth(pub_date).alias("publication_day"),
        r["publisher"]["$"].alias("publisher"),
        r["resulttype"]["@classid"].alias("result_type"),
        F.when(resource["@schemeid"].isin("dnet:result_typologies",
                                          "dnet:publication_resource"),
               resource["@classname"]).alias("resource_type"),
        F.year(F.current_date()).cast("int").alias("cited_by_count_date"),
        r["creator"].alias("creators"),
    )
    # Adapt v1 creator attrs onto the v2 author struct (@orcid wins over
    # @orcid_pending, matching the pid-scheme precedence in _parse_author_rows).
    pid_t = ("struct<id:struct<scheme:string,value:string>,"
             "provenance:string>")
    c = F.col("c")
    adapted = arts.select(
        "env_id", "result_idx",
        F.posexplode_outer("creators").alias("author_pos", "c"),
    ).select(
        "env_id", "result_idx", "author_pos",
        F.struct(
            c["@name"].alias("name"),
            c["@surname"].alias("surname"),
            F.coalesce(F.nullif(c["@orcid"], F.lit("")),
                       F.nullif(c["@orcid_pending"], F.lit("")))
            .alias("orcid"),
            c["@rank"].alias("rank"),
            F.lit(None).cast(pid_t).alias("pid"),
            c["$"].alias("$"),
        ).alias("a"),
    )
    authors = _parse_author_rows(adapted, ["env_id", "result_idx", "author_pos"])
    return _nest_authors(arts.drop("creators"), authors,
                         ["env_id", "result_idx"]).drop("env_id")


def parse_openalex(landed: DataFrame) -> DataFrame:
    """OpenAlex works enrichment (reference parser.py:183-186, fed by
    get_metadata.get_metadata_from_openalex, get_metadata.py:69-87).

    landed: FETCH_SCHEMA rows (query_doi, source, status, error, body) from
    the openalex fetch stage — or any frame carrying query_doi + a JSON
    body string. Rows with errors/empty bodies drop out, matching the
    reference's except-branch (`openalex_metadata = {"id": None}`,
    create_graph_from_doi.py:231-232): a missing row left-joins to nulls.

    Returns one row per doi: (doi, openalex, cited_by_count,
    counts_by_year map<int,int>). counts_by_year is parsed as an engine
    extension; the reference stores None for it (parser.py:188).
    """
    df = landed
    if "source" in df.columns:
        df = df.filter(F.col("source") == "openalex")
    if "error" in df.columns:
        df = df.filter(F.col("error").isNull())
    b = F.from_json(F.col("body"), OPENALEX_SCHEMA)
    return (
        df.filter(F.col("body").isNotNull())
        .select(
            F.col("query_doi").alias("doi"),
            b["id"].alias("openalex"),
            b["cited_by_count"].cast("int").alias("cited_by_count"),
            F.map_from_entries(
                F.transform(b["counts_by_year"],
                            lambda s: F.struct(s["year"].alias("key"),
                                               s["cited_by_count"].alias("value")))
            ).alias("counts_by_year"),
        )
        .dropDuplicates(["doi"])
    )


def parse_articles(envelopes: DataFrame) -> DataFrame:
    """parse_metadata (parser.py:96-192) as one lazy plan.

    Input: OPENAIRE_SCHEMA envelopes with a query_doi side-channel column.
    Output: one row per result — the AnonymousArticle fields + an
    `authors` array<struct<first_name,last_name,orcid,rank>> in original
    array order with unparseable authors dropped.
    """
    r = F.col("r")
    journal_raw = r["journal"]["$"]
    resource = r["resourcetype"]
    arts = _explode_results(envelopes).select(
        "doi", "result_idx",
        # title is clean_html'd twice in the reference (parse + model ctor)
        clean_html_udf(clean_html_udf(r["mainTitle"])).alias("title"),
        # try_element_at: descriptions can be an EMPTY array (not just
        # null), and ANSI element_at throws on index 1 of [].
        F.try_element_at(r["descriptions"], F.lit(1)).alias("abstract"),
        F.when(journal_raw.isNotNull() & (journal_raw != ""),
               clean_html_udf(journal_raw)).otherwise(F.lit("")).alias("journal"),
        F.lit(None).cast("int").alias("issue"),
        F.lit(None).cast("int").alias("volume"),
        F.year(F.to_date(r["publicationDate"])).alias("publication_year"),
        F.month(F.to_date(r["publicationDate"])).alias("publication_month"),
        F.dayofmonth(F.to_date(r["publicationDate"])).alias("publication_day"),
        r["publisher"].alias("publisher"),
        # F20: result_type passthrough (parser.py:73-83)
        r["type"].alias("result_type"),
        # F19: resource_type scheme dispatch (parser.py:150-163)
        F.when(resource["@schemeid"].isin("dnet:result_typologies",
                                          "dnet:publication_resource"),
               resource["@classname"]).alias("resource_type"),
        # F9: cited_by_count_date = current year (parser.py:187)
        F.year(F.current_date()).cast("int").alias("cited_by_count_date"),
    )
    return _nest_authors(arts, parse_authors(envelopes), ["doi", "result_idx"])
