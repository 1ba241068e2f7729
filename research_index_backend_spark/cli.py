"""Console entry point: the reference's `research_index <dois.csv>` CLI
(reference src/research_index_backend/create_graph_from_doi.py:195-376) as
one composed Spark pipeline.

Flag parity:
  list_of_dois            newline-delimited DOI file
  -i / --initialise       destructive re-init (S11: MATCH(n) DETACH DELETE
                          -> overwrite every node/edge table)
  -l / --limit N          first-N file-order cap (default 50, doi.py:277)
  -u / --update-metadata  re-process existing DOIs; upserts run in update
                          mode (incoming replaces matching keys)
  -w / --write-metadata   land raw fetch envelopes as JSONL next to the
                          tables (S5; the reference writes one file per
                          DOI, the engine writes one partitioned dataset)

Where the reference loops DOI-by-DOI with per-row Bolt writes, this runs
set-at-a-time: validate -> existence-probe -> fetch the gap (mapInPandas
REST boundary, injectable transport) -> parse -> build graph -> keyed
upserts -> one-pass 14-metric scorecard. Per-DOI failures stay DATA
(status/error columns), never control flow.
"""

from __future__ import annotations

import argparse
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest.fetch import Transport, fetch_metadata
from .ingest.pipeline import (
    build_graph_from_envelopes,
    ingestion_metrics,
    processed,
)
from .schemas import (
    AUTHOR_NODE,
    AUTHOR_OF_EDGE,
    COUNTRY_NODE,
    MEMBER_OF_EDGE,
    OPENAIRE_SCHEMA,
    OUTPUT_NODE,
    REFERS_TO_EDGE,
    UNIT_NODE,
    UNIT_OF_EDGE,
)
from .sources.doi_list import read_doi_list

TABLE_SCHEMAS = {
    "authors": AUTHOR_NODE,
    "outputs": OUTPUT_NODE,
    "countries": COUNTRY_NODE,
    "units": UNIT_NODE,
    "author_of": AUTHOR_OF_EDGE,
    "member_of": MEMBER_OF_EDGE,
    "unit_of": UNIT_OF_EDGE,
    "refers_to": REFERS_TO_EDGE,
}
# the merge key of each table run_ingest upserts
TABLE_KEYS = {
    "outputs": ["doi"],
    "authors": ["uuid"],
    "author_of": ["author_uuid", "output_uuid"],
    "refers_to": ["output_uuid", "country_id"],
}


def _read_table(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    p = Path(data_dir) / name
    if p.exists():
        return spark.read.parquet(str(p))
    return spark.createDataFrame([], TABLE_SCHEMAS[name])


def run_ingest(spark: SparkSession, doi_file: str, data_dir: str,
               limit: int = 50, initialise: bool = False,
               update_metadata: bool = False, write_metadata: bool = False,
               transport: Transport | None = None,
               token: str = "", init_dir: str | None = None,
               return_details: bool = False):
    """The main() flow (reference create_graph_from_doi.py:195-256) as lazy
    plans + keyed upserts. Returns the 1-row metrics frame (doi.py:202-283);
    with return_details=True also the per-DOI (category, doi) frame behind
    the reference's printed failure lists (create_graph_from_doi.py:365-376).

    initialise mirrors the reference -i exactly (create_graph_from_doi.py:
    342-347): wipe the graph, then reload the consortium init CSVs from
    init_dir (load_initial_data) when one is given.
    """
    start = time.time()
    if initialise:
        # S11: destructive re-init == drop every table dir
        import shutil
        for name in TABLE_SCHEMAS:
            p = Path(data_dir) / name
            if p.exists():
                shutil.rmtree(p)
        if init_dir:
            from .ingest.pipeline import load_initial_data
            for name, df in load_initial_data(spark, init_dir).items():
                df.write.mode("overwrite").parquet(str(Path(data_dir) / name))

    # validate + cap (P1-P3); n_submitted tracks file multiplicity for the
    # duplicated_submissions metric (dict-keyed tracker, doi.py:108-110)
    raw = read_doi_list(spark, doi_file, limit=limit)
    submitted = (raw.groupBy("doi", "valid_pattern")
                 .agg(F.count(F.lit(1)).alias("n_submitted")))

    outputs0 = _read_table(spark, data_dir, "outputs")
    authors0 = _read_table(spark, data_dir, "authors")
    countries = _read_table(spark, data_dir, "countries")

    # J1 existence probe against the outputs table
    tracker = (
        submitted.join(
            outputs0.select("doi").distinct().withColumn("already_exists",
                                                         F.lit(True)),
            "doi", "left")
        .withColumn("already_exists", F.coalesce("already_exists",
                                                 F.lit(False)))
    )
    # partition count is the fetch-concurrency knob (ingest/fetch.py): one
    # HTTP call per row inside each task, tasks run in parallel
    work = (tracker.filter(processed(update_metadata)).select("doi")
            .repartition(spark.sparkContext.defaultParallelism))

    # the HTTP boundary (S3/S4) — both sources fetched set-at-a-time
    landed_aire = fetch_metadata(work, source="openaire", token=token,
                                 transport=transport).localCheckpoint()
    landed_alex = fetch_metadata(work, source="openalex",
                                 transport=transport).localCheckpoint()
    if write_metadata:
        # S5: land raw envelopes as one partitioned dataset with the
        # reference's per-DOI open(..., 'w') overwrite semantics: a fresh
        # envelope REPLACES a previously-landed one for the same
        # (query_doi, source) — critical under -u, where the whole point
        # is refreshed metadata. land_envelopes handles the empty-dir
        # guard, explicit schema, and staging-dir swap (never scans its
        # own write target).
        from .sources.json_sink import land_envelopes
        to_land = landed_aire.unionByName(landed_alex)
        land_envelopes(spark, to_land, str(Path(data_dir) / "json"))

    envelopes = (
        landed_aire.filter(F.col("error").isNull())
        .select(F.from_json("body", OPENAIRE_SCHEMA).alias("e"),
                F.col("query_doi"))
        # the body JSON has no query_doi of its own — project the landed
        # side-channel column, not e.query_doi (always null)
        .select(F.col("e.header").alias("header"),
                F.col("e.results").alias("results"),
                F.col("query_doi"))
    )
    graph = build_graph_from_envelopes(envelopes, authors0, countries,
                                       landed_alex)

    # the 14-metric tracker state (A3)
    ok_aire = landed_aire.filter(F.col("error").isNull()) \
        .select("query_doi").distinct() \
        .withColumn("openaire_metadata", F.lit(True))
    ok_alex = landed_alex.filter(F.col("error").isNull()) \
        .select("query_doi").distinct() \
        .withColumn("openalex_metadata", F.lit(True))
    ingested = envelopes.select(F.col("query_doi")).distinct() \
        .withColumn("ingestion_success", F.lit(True))
    full = (
        tracker
        .join(ok_aire.withColumnRenamed("query_doi", "doi"), "doi", "left")
        .join(ok_alex.withColumnRenamed("query_doi", "doi"), "doi", "left")
        .join(ingested.withColumnRenamed("query_doi", "doi"), "doi", "left")
        .select(
            "doi", "n_submitted", "valid_pattern", "already_exists",
            F.coalesce("openalex_metadata", F.lit(False)).alias("openalex_metadata"),
            F.coalesce("openaire_metadata", F.lit(False)).alias("openaire_metadata"),
            F.coalesce("ingestion_success", F.lit(False)).alias("ingestion_success"),
        )
    )

    # MATERIALIZE everything that reads the on-disk tables BEFORE the first
    # swap: the upsert sink renames table dirs, and a lazy plan still
    # pointing at the old part files would fail (or silently read a
    # just-rewritten table) once its sibling's swap lands. Write-all-then-
    # commit-all, the sink's own .new staging extended across tables.
    graph = {k: v.localCheckpoint() for k, v in graph.items()}
    full = full.localCheckpoint()

    # the one merge of this batch's rows with the stored ones; -u replaces
    # re-ingested outputs, every other table keeps its stored rows
    from .operators.upsert import upsert_parquet
    for name, df in graph.items():
        upsert_parquet(spark, df, str(Path(data_dir) / name), TABLE_KEYS[name],
                       mode="update" if update_metadata and name == "outputs"
                       else "insert")

    metrics = ingestion_metrics(full, update_metadata=update_metadata,
                                start_time=start, end_time=time.time())
    if return_details:
        return metrics, processing_details(full,
                                           update_metadata=update_metadata)
    return metrics


def processing_details(full: DataFrame,
                       update_metadata: bool = False) -> DataFrame:
    """(category, doi) rows for the reference's per-DOI report lists
    (create_graph_from_doi.py:365-376): failed metadata, invalid pattern,
    duplicated submissions.

    The metadata_failure LIST uses ingestion_metrics' own `processed`
    predicate: with -u the reference re-processes existing DOIs
    (doi.py:219-224), so the list must include them too, or the printed
    count and the per-DOI list below it disagree (round-3 ADVICE item)."""
    cats = {
        "metadata_failure": processed(update_metadata)
        & ~F.col("ingestion_success"),
        "invalid_pattern_dois": ~F.col("valid_pattern"),
        "duplicated_submissions": F.col("n_submitted") > 1,
    }
    out = None
    for name, cond in cats.items():
        part = full.filter(cond).select(F.lit(name).alias("category"),
                                        F.col("doi").cast("string"))
        out = part if out is None else out.unionByName(part)
    return out


def argument_parser() -> argparse.ArgumentParser:
    """Flag parity with the reference (create_graph_from_doi.py:258-292)."""
    p = argparse.ArgumentParser(prog="research_index_spark")
    p.add_argument("list_of_dois", help="newline-delimited DOI file")
    p.add_argument("--data-dir", default="data/graph",
                   help="parquet table directory (the engine's 'database')")
    p.add_argument("-i", "--initialise", action="store_true",
                   help="delete the graph and reload")
    p.add_argument("--init-dir", default=None,
                   help="consortium CSV dir reloaded on -i (the reference's "
                        "data/init, create_graph_from_doi.py:347)")
    p.add_argument("-l", "--limit", type=int, default=50,
                   help="Limit number of DOIs to process (default: 50)")
    p.add_argument("-u", "--update-metadata", action="store_true",
                   help="Update metadata for existing DOIs")
    p.add_argument("-w", "--write-metadata", action="store_true",
                   help="Store metadata in JSON files")
    return p


def main(argv: list[str] | None = None) -> int:
    args = argument_parser().parse_args(argv)
    from .session import get_spark
    spark = get_spark()
    report, details = run_ingest(
        spark, args.list_of_dois, args.data_dir,
        limit=args.limit, initialise=args.initialise,
        update_metadata=args.update_metadata,
        write_metadata=args.write_metadata, init_dir=args.init_dir,
        return_details=True)
    # the reference's report format (create_graph_from_doi.py:359-376)
    metrics = report.collect()[0].asDict()
    width = max(len(k) for k in metrics)
    print(f"{'Metric'.ljust(width)} | Value")
    print("-" * (width + 9))
    for k, v in metrics.items():
        print(f"{k.ljust(width)} | {v}")
    by_cat: dict[str, list[str]] = {}
    for r in details.collect():
        by_cat.setdefault(r["category"], []).append(r["doi"])
    print("\nProcessing Results:")
    for cat, metric_key in (("metadata_failure", "metadata_failure"),
                            ("invalid_pattern_dois", "invalid_pattern_dois"),
                            ("duplicated_submissions",
                             "duplicated_submissions")):
        print(f"\n• {cat} ({metrics[metric_key]}):")
        for doi in sorted(by_cat.get(cat, [])):
            print(f"  - {doi}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
