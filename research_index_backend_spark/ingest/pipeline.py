"""Entry points 1-2 of the reference as composed lazy plans.

load_initial_data (reference src/research_index_backend/create_graph.py:277-314)
collapses from 7 pandas-apply row loops + per-row Bolt writes into 7 scans
and a handful of joins:

  workstream.csv / project_partners.csv -> units node table
  subws.csv                             -> unit_of edges
  authors.csv                           -> authors node table (P4 null branch)
  countries.csv                         -> countries node table (F12/F13)
  wp_members.csv / partner_members.csv  -> member_of edges via the
      orcid-else-name author lookup (P4 + J2/J3; unmatched members dropped,
      the reference's "Could not find" branch, create_graph.py:195-197)

ingestion_metrics re-expresses the 14-metric report (reference
doi.py:202-283) as ONE aggregation pass (A3) over a DOI-tracker frame.

Every output is a DataFrame — callers persist via operators.upsert
(destructive re-init S11 == write.mode('overwrite') of each table).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.names import full_name_col, split_names_cols
from ..sources.csv_sources import read_init_csvs


def build_units(workstream: DataFrame, partners: DataFrame) -> DataFrame:
    """Multi-label :Workstream:Unit / :Partner:Unit as one discriminated
    table (reference models.py:305-342; SURVEY §1.6)."""
    ws = workstream.select(
        "id", "name",
        F.lit("workstream").alias("unit_type"),
        F.lit(None).cast("string").alias("dbpedia"),
        F.lit(None).cast("string").alias("ror"),
        F.lit(None).cast("string").alias("openalex"),
    )
    pt = partners.select(
        "id", "name", F.lit("partner").alias("unit_type"),
        "dbpedia", "ror", "openalex",
    )
    return ws.unionByName(pt)


def build_authors(authors_csv: DataFrame) -> DataFrame:
    """Author nodes; the Orcid-null branch (P4, create_graph.py:88-104)
    becomes a when().otherwise column."""
    return authors_csv.select(
        "uuid", "first_name", "last_name",
        F.when(F.col("Orcid").isNotNull() & (F.col("Orcid") != ""),
               F.col("Orcid")).alias("orcid"),
        F.lit(None).cast("string").alias("openalex"),
        F.lit(None).cast("int").alias("rank"),
    )


def build_countries(countries_csv: DataFrame) -> DataFrame:
    """Country nodes: dbpedia slug (F12) + latlng split (F13)
    (create_graph.py:106-123)."""
    return countries_csv.select(
        F.col("cca3").alias("id"),
        F.col("`name.common`").alias("name"),
        F.col("`name.official`").alias("official_name"),
        F.regexp_replace(F.col("`name.official`"), " ", "_").alias("dbpedia"),
        # try_element_at: a latlng with no comma splits to a 1-element
        # array and ANSI element_at(_, 2) throws instead of yielding null.
        F.try_element_at(F.split("latlng", ","), F.lit(1))
         .cast("double").alias("latitude"),
        F.try_element_at(F.split("latlng", ","), F.lit(2))
         .cast("double").alias("longitude"),
    )


def build_unit_of_edges(subws: DataFrame) -> DataFrame:
    """(Unit child)-[unit_of]->(Unit parent) (create_graph.py:162-169)."""
    return subws.select(F.col("child").alias("child_id"),
                        F.col("parent").alias("parent_id"))


def build_member_of_edges(members: DataFrame, authors: DataFrame) -> DataFrame:
    """(Author)-[member_of]->(Unit) via the orcid-else-name lookup.

    members: (id, name, orcid?) rows from wp_members/partner_members.
    The reference resolves each row one at a time (match_orcid if orcid
    present else match_name, create_graph.py:171-198); here both lookups
    are one broadcast join each, branch-selected per row (P4), and
    unmatched members are dropped (the P7-style guard).
    """
    first, last = split_names_cols("name")
    m = members.select(
        F.col("id").alias("unit_id"), "orcid",
        full_name_col(first, last).alias("__full"),
    )
    by_orcid = (
        m.filter(F.col("orcid").isNotNull() & (F.col("orcid") != ""))
        .join(F.broadcast(authors.select(F.col("uuid"), F.col("orcid").alias("__ao"))),
              F.col("orcid") == F.col("__ao"), "inner")
        .select(F.col("uuid").alias("author_uuid"), "unit_id")
    )
    by_name = (
        m.filter(F.col("orcid").isNull() | (F.col("orcid") == ""))
        .join(F.broadcast(authors.select(
            "uuid", full_name_col("first_name", "last_name").alias("__af"))),
            F.col("__full") == F.col("__af"), "inner")
        .select(F.col("uuid").alias("author_uuid"), "unit_id")
    )
    return by_orcid.unionByName(by_name).distinct()


def load_initial_data(spark: SparkSession, init_dir: str) -> dict[str, DataFrame]:
    """The whole consortium bulk load as lazy plans keyed by table name."""
    raw = read_init_csvs(spark, init_dir)
    authors = build_authors(raw["authors"])
    units = build_units(raw["workstream"], raw["project_partners"])
    members = raw["wp_members"].select("id", "name", "orcid").unionByName(
        raw["partner_members"].select("id", "name", "orcid"))
    return {
        "authors": authors,
        "countries": build_countries(raw["countries"]),
        "units": units,
        "unit_of": build_unit_of_edges(raw["subws"]),
        "member_of": build_member_of_edges(members, authors),
    }


def output_uuid() -> Column:
    """The output id mint rule: sha2(doi). Deterministic, so re-ingesting
    a DOI yields the same id (the reference's match_doi-before-CREATE,
    models.py:165-249); `outputs.uuid` and `author_of.output_uuid` both
    use it, so the edges need no join to the outputs."""
    return F.sha2(F.col("doi"), 256)


def build_graph_from_envelopes(envelopes: DataFrame,
                               existing_authors: DataFrame,
                               countries: DataFrame,
                               openalex_landed: DataFrame,
                               ) -> dict[str, DataFrame]:
    """Entry point 1's per-DOI loop (reference create_graph_from_doi.py:195-256)
    as ONE composed plan: parse -> OpenAlex enrich -> resolve authors ->
    author_of edges -> refers_to country tagging.

    Returns only this batch's rows, keyed by table: `outputs` (the parsed
    outputs), `authors` (the authors resolved as created), `author_of` and
    `refers_to`. Merging them with the stored tables is the caller's one
    keyed upsert (cli.run_ingest -> operators.upsert.upsert_parquet), which
    also drops the rows already stored.

    envelopes: OPENAIRE_SCHEMA frames with query_doi set (landed JSONL).
    existing_authors: the current author node table (may be empty).
    countries: country nodes for the J6/J7 tagging pass (may be empty).
    Only this batch's outputs are tagged. That gives the same edges as
    tagging every stored output whenever the stored outputs were tagged
    against the same countries, which holds for every table state the CLI
    produces: countries changes only under -i, and -i also wipes outputs.
    openalex_landed: FETCH_SCHEMA rows from the openalex source (may be
    empty); every article is enriched with `openalex` id + `cited_by_count`
    (reference parser.py:183-186) via a doi left join — a missing/errored
    response leaves nulls, the reference's `{"id": None}` except-branch.
    counts_by_year stays null for reference parity (parser.py:188 passes
    None; parse.parse_openalex exposes the parsed map for users who want
    the real thing). Authors are verified with the reference difflib
    algorithm.
    """
    from ..operators.resolve import resolve_authors
    from ..operators.theta import contains_tag
    from .parse import parse_articles, parse_authors, parse_openalex

    oa = parse_openalex(openalex_landed).drop("counts_by_year")
    # full OUTPUT_NODE column set, in schema order — no drift between the
    # declared node schema and what the pipeline materializes. Materialized
    # because `refers_to` reads it too: a lazy plan would run
    # parse_articles' Python UDFs again inside the tagging.
    outputs = parse_articles(envelopes).join(oa, "doi", "left").select(
        output_uuid().alias("uuid"), "doi", "title", "abstract", "journal",
        "issue", "volume", "publication_year", "publication_month",
        "publication_day", "publisher", "result_type", "resource_type",
        "openalex", "cited_by_count", "cited_by_count_date",
        F.lit(None).cast("map<int,int>").alias("counts_by_year")
    ).localCheckpoint()

    # key includes result_idx: an envelope with multiple results has
    # independent author lists, and (doi, author_pos) alone would collide
    # them (round-2 ADVICE; the reference loops per result, parser.py:111).
    # Both steps are materialized: the resolver reads its input in three
    # branches, and `authors` and `author_of` both read its result, so
    # each would otherwise re-run the parse and the resolution.
    flat = parse_authors(envelopes).withColumn(
        "in_id", F.concat_ws("#", "doi",
                             F.col("result_idx").cast("string"),
                             F.col("author_pos").cast("string")))
    resolved = resolve_authors(flat.localCheckpoint(), existing_authors,
                               exact=True).localCheckpoint()
    authors = (
        resolved.filter(F.col("resolution") == "created")
        .select(F.col("resolved_uuid").alias("uuid"),
                "first_name", "last_name", "orcid",
                F.lit(None).cast("string").alias("openalex"),
                F.lit(None).cast("int").alias("rank"))
    )
    author_of = resolved.select(
        F.col("resolved_uuid").alias("author_uuid"),
        output_uuid().alias("output_uuid"), "rank").distinct()

    # J6+J7: case-sensitive CONTAINS, as the Cypher original — TWO passes,
    # abstract and title (the reference runs two statements,
    # create_graph_from_doi.py:294-329); union + distinct. Both passes are
    # one broadcast nested-loop join each over the same outputs scan.
    dim = countries.select(F.col("id").alias("country_id"), "name")
    tagged = [
        contains_tag(outputs.select(F.col("uuid").alias("output_uuid"), col),
                     dim, col, "name", case_insensitive=False)
        .select("output_uuid", "country_id")
        for col in ("abstract", "title")]
    refers_to = tagged[0].unionByName(tagged[1]).distinct()
    return {"outputs": outputs, "authors": authors, "author_of": author_of,
            "refers_to": refers_to}


def processed(update_metadata: bool) -> Column:
    """The DOIs a run processes: every valid one under -u (the reference
    re-processes existing DOIs, doi.py:219-224), else the valid ones not
    yet stored. The work list, the scorecard and the per-DOI report all
    use this one predicate."""
    valid = F.col("valid_pattern")
    return valid if update_metadata else valid & ~F.col("already_exists")


def ingestion_metrics(tracker: DataFrame, update_metadata: bool = False,
                      start_time: float | None = None,
                      end_time: float | None = None) -> DataFrame:
    """The reference's 14-metric report (doi.py:202-283) in ONE pass.

    tracker columns (the DOI state machine as a frame): doi, n_submitted
    (submission multiplicity), valid_pattern, already_exists,
    openalex_metadata, openaire_metadata, ingestion_success.

    Returns a 1-row frame; total_time_seconds is driver-side wall clock
    (the only non-distributed metric, as in the reference).
    """
    proc = processed(update_metadata)
    conds = {
        "duplicated_submissions": F.col("n_submitted") > 1,
        "processed_dois": proc,
        "new_dois": F.col("valid_pattern") & ~F.col("already_exists"),
        "existing_dois": F.col("valid_pattern") & F.col("already_exists"),
        "updated_existing_dois": proc & F.col("ingestion_success")
        & F.col("already_exists"),
        "ingested_dois": F.col("ingestion_success"),
        "metadata_pass": proc & F.col("ingestion_success"),
        "metadata_failure": proc & ~F.col("ingestion_success"),
        "valid_pattern_dois": F.col("valid_pattern"),
        "invalid_pattern_dois": ~F.col("valid_pattern"),
        "openalex_success": proc & F.col("openalex_metadata"),
        "openaire_success": proc & F.col("openaire_metadata"),
    }
    aggs = [F.sum("n_submitted").cast("long").alias("submitted_dois")] + [
        F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(n)
        for n, c in conds.items()
    ]
    total = 0.0
    if start_time is not None:
        total = (end_time or time.time()) - start_time
    return tracker.agg(*aggs).withColumn(
        "total_time_seconds", F.lit(round(total, 3)))
