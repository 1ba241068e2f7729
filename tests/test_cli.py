"""End-to-end CLI pipeline: DOI file -> fetch (fake transport) -> parse ->
graph tables on parquet -> 14-metric report. Mirrors the reference's
console main() (create_graph_from_doi.py:195-256) set-at-a-time."""

from __future__ import annotations

import json
from pathlib import Path

from research_index_backend_spark.cli import run_ingest
from research_index_backend_spark.schemas import COUNTRY_NODE

FIXTURE = str(Path(__file__).parent / "fixtures" /
              "openaire_v2_simple.json")
DOI = "10.5281/zenodo.4650794"


def make_transport(title: str | None = None):
    """Closure factory: cloudpickle ships closures by value, so the fake
    transport travels to executors without needing tests/ on their path.
    `title` replaces the served record's mainTitle."""
    fixture_text = open(FIXTURE).read()
    if title is not None:
        record = json.loads(fixture_text)
        record["results"][0]["mainTitle"] = title
        fixture_text = json.dumps(record)
    doi = DOI

    def _transport(url: str, headers: dict) -> tuple[int, str]:
        if "api.openaire.eu" in url:
            if doi in url:
                return 200, fixture_text
            return 200, json.dumps({"results": []})  # -> 'no results' error
        if "api.openalex.org" in url:
            if doi in url:
                return 200, json.dumps({"id": "https://openalex.org/W77",
                                        "cited_by_count": 9})
            return 404, "not found"
        raise AssertionError(f"unexpected url {url}")

    return _transport


class TestCliIngest:
    def test_end_to_end_and_idempotent_rerun(self, spark, tmp_path):
        doi_file = tmp_path / "dois.txt"
        doi_file.write_text(f"{DOI}\nnot-a-doi\n")
        data_dir = tmp_path / "graph"
        data_dir.mkdir()
        spark.createDataFrame(
            [("LBR", "Liberia", "Republic of Liberia", "Republic_of_Liberia",
              6.5, -9.5)], COUNTRY_NODE) \
            .write.parquet(str(data_dir / "countries"))

        report = run_ingest(spark, str(doi_file), str(data_dir),
                            transport=make_transport()).collect()[0]
        assert report["submitted_dois"] == 2
        assert report["valid_pattern_dois"] == 1
        assert report["invalid_pattern_dois"] == 1
        assert report["processed_dois"] == 1
        assert report["ingested_dois"] == 1
        assert report["openalex_success"] == 1
        assert report["openaire_success"] == 1

        outputs = spark.read.parquet(str(data_dir / "outputs")).collect()
        assert len(outputs) == 1
        assert outputs[0]["doi"] == DOI
        assert outputs[0]["openalex"] == "https://openalex.org/W77"
        assert outputs[0]["cited_by_count"] == 9
        assert spark.read.parquet(str(data_dir / "authors")).count() == 1
        refers = spark.read.parquet(str(data_dir / "refers_to")).collect()
        assert [r["country_id"] for r in refers] == ["LBR"]

        # re-run: the existence probe skips the DOI entirely (S6/J1) and
        # every table stays exactly the same
        report2 = run_ingest(spark, str(doi_file), str(data_dir),
                             transport=make_transport()).collect()[0]
        assert report2["processed_dois"] == 0
        assert report2["existing_dois"] == 1
        assert spark.read.parquet(str(data_dir / "outputs")).count() == 1
        assert spark.read.parquet(str(data_dir / "authors")).count() == 1

    def test_initialise_drops_tables(self, spark, tmp_path):
        doi_file = tmp_path / "dois.txt"
        doi_file.write_text(f"{DOI}\n")
        data_dir = tmp_path / "graph"
        run_ingest(spark, str(doi_file), str(data_dir), transport=make_transport())
        assert spark.read.parquet(str(data_dir / "outputs")).count() == 1
        # -i wipes and reloads from scratch
        report = run_ingest(spark, str(doi_file), str(data_dir),
                            initialise=True, transport=make_transport()).collect()[0]
        assert report["processed_dois"] == 1  # not 'existing' post-wipe
        assert spark.read.parquet(str(data_dir / "outputs")).count() == 1


    def test_update_mode_replaces_output_and_adds_tags(self, spark,
                                                       tmp_path):
        """-u (reference create_graph_from_doi.py:282, doi.py:219-224)
        re-processes a stored DOI: its output row is replaced, its author
        resolves to the stored one, and refers_to gains the new title's
        country while keeping the stored edge."""
        doi_file = tmp_path / "dois.txt"
        doi_file.write_text(f"{DOI}\n")
        data_dir = tmp_path / "graph"
        data_dir.mkdir()
        spark.createDataFrame(
            [("LBR", "Liberia", "Republic of Liberia", "Republic_of_Liberia",
              6.5, -9.5),
             ("KEN", "Kenya", "Republic of Kenya", "Republic_of_Kenya",
              0.0, 38.0)], COUNTRY_NODE) \
            .write.parquet(str(data_dir / "countries"))

        def table(name):
            return spark.read.parquet(str(data_dir / name))

        run_ingest(spark, str(doi_file), str(data_dir),
                   transport=make_transport()).collect()
        edges = {t: table(t).count() for t in ("authors", "author_of")}
        title = "CCG Starter Data Kit: Kenya"
        report = run_ingest(spark, str(doi_file), str(data_dir),
                            update_metadata=True,
                            transport=make_transport(title)).collect()[0]
        assert report["updated_existing_dois"] == 1
        outputs = table("outputs").collect()
        assert len(outputs) == 1
        assert outputs[0]["title"] == title
        assert {t: table(t).count() for t in edges} == edges
        assert {r["country_id"] for r in table("refers_to").collect()} == {
            "LBR", "KEN"}


class TestInitialiseReload:
    def test_init_dir_reloads_consortium_and_tags_real_countries(
            self, spark, tmp_path):
        """-i with --init-dir mirrors the reference exactly
        (create_graph_from_doi.py:342-347): wipe, reload consortium CSVs,
        then ingest — refers_to tags against the REAL countries table
        ('Liberia' appears in the fixture abstract)."""
        doi_file = tmp_path / "dois.txt"
        doi_file.write_text(f"{DOI}\n{DOI}\n")  # duplicate submission
        data_dir = tmp_path / "graph"
        report, details = run_ingest(
            spark, str(doi_file), str(data_dir), initialise=True,
            init_dir="/root/reference/data/init",
            transport=make_transport(), return_details=True)
        r = report.collect()[0]
        assert r["duplicated_submissions"] == 1
        assert r["processed_dois"] == 1

        import pyspark.sql.functions as F
        countries = spark.read.parquet(str(data_dir / "countries"))
        assert countries.count() == 250
        units = spark.read.parquet(str(data_dir / "units"))
        assert units.count() == 44
        refers = spark.read.parquet(str(data_dir / "refers_to")).collect()
        assert ("LBR",) in {(x["country_id"],) for x in refers}

        det = {(x["category"], x["doi"]) for x in details.collect()}
        assert ("duplicated_submissions", DOI) in det
