"""Author-parse and metadata-parse goldens ported from the reference
(reference tests/test_parser.py:31-219) against the Spark ingest plan
(ingest/parse.py). The reference's per-row parse_author/parse_metadata
become column expressions here; the goldens pin identical outputs."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from research_index_backend_spark.ingest.parse import (
    _parse_author_rows,
    parse_articles,
    parse_authors,
    read_openaire_json,
)
from research_index_backend_spark.schemas import AUTHOR_SCHEMA

FIXTURE = str(Path(__file__).parent / "fixtures" /
              "openaire_v2_simple.json")


def _parse_one(spark, author_dict):
    """Run one author dict through the staged parse cascade; returns the
    parsed row or None (the reference's parse_author -> None contract:
    the cascade drops an unparseable author)."""
    schema = StructType([StructField("a", AUTHOR_SCHEMA)])
    df = spark.createDataFrame([(author_dict,)], schema)
    rows = _parse_author_rows(df, []).collect()
    return rows[0].asDict() if rows else None


class TestAuthorGoldens:
    """reference tests/test_parser.py:31-128 — six edge cases."""

    def test_author_orcid_pending(self, spark):
        got = _parse_one(spark, {
            "rank": "1", "name": "Lucy", "surname": "Allington",
            "pid": {"id": {"scheme": "orcid_pending",
                           "value": "0000-0003-1801-899x"},
                    "provenance": "null"},
            "fullName": "Allington, Lucy",
        })
        assert got == {"first_name": "Lucy", "last_name": "Allington",
                       "orcid": "https://orcid.org/0000-0003-1801-899x",
                       "rank": 1}

    def test_author_orcid(self, spark):
        got = _parse_one(spark, {
            "rank": "5", "name": "Will", "surname": "Usher",
            "pid": {"id": {"scheme": "orcid",
                           "value": "0000-0001-9367-1791"},
                    "provenance": "null"},
            "fullName": "Usher, Will",
        })
        assert got == {"first_name": "Will", "last_name": "Usher",
                       "orcid": "https://orcid.org/0000-0001-9367-1791",
                       "rank": 5}

    def test_author_no_orcid(self, spark):
        got = _parse_one(spark, {
            "rank": "5", "name": "Will", "surname": "Usher",
            "fullName": "Usher, Will", "pid": {},
        })
        assert got == {"first_name": "Will", "last_name": "Usher",
                       "orcid": None, "rank": 5}

    def test_author_name_poorly_formed(self, spark):
        """surname carries the full name -> fallback split (parser.py:40-56)."""
        got = _parse_one(spark, {
            "rank": "13", "surname": "Stephanie Hirmer",
            "pid": {"id": {"scheme": "orcid_pending",
                           "value": "0000-0001-7628-9259"},
                    "provenance": "null"},
            "fullName": "null Stephanie Hirmer",
        })
        assert got == {"first_name": "Stephanie", "last_name": "Hirmer",
                       "orcid": "https://orcid.org/0000-0001-7628-9259",
                       "rank": 13}

    def test_author_no_name_no_orcid(self, spark):
        assert _parse_one(spark, {"rank": "13",
                                  "fullName": "not a name"}) is None

    def test_author_no_first_name(self, spark):
        """ALL-CAPS duplicated surname -> .title() + mutual-substring repair
        (parser.py:24-29)."""
        got = _parse_one(spark, {
            "rank": "1", "name": "Antoinette",
            "surname": "HABINSHUTI Antoinette",
            "fullName": "HABINSHUTI Antoinette",
        })
        assert got == {"first_name": "Antoinette",
                       "last_name": "Habinshuti", "orcid": None, "rank": 1}


class TestMetadataGolden:
    """reference tests/test_parser.py:133-219 — full fixture parse."""

    def test_parse_metadata(self, spark):
        env = read_openaire_json(spark, FIXTURE).withColumn(
            "query_doi", F.lit("10.5281/zenodo.4650794"))
        rows = parse_articles(env).collect()
        assert len(rows) == 1
        art = rows[0].asDict()
        assert art["doi"] == "10.5281/zenodo.4650794"
        assert art["title"] == "CCG Starter Data Kit: Liberia"
        assert art["abstract"] == "A starter data kit for Liberia"
        assert art["journal"] == ""
        assert art["issue"] is None
        assert art["volume"] is None
        assert art["publication_year"] == 2021
        assert art["publication_month"] == 3
        assert art["publication_day"] == 31
        assert art["publisher"] == "Zenodo"
        assert art["result_type"] == "dataset"
        assert art["resource_type"] is None
        assert art["cited_by_count_date"] == datetime.now().year
        authors = [a.asDict() for a in art["authors"]]
        assert authors == [{
            "first_name": "Lucy", "last_name": "Allington",
            "orcid": "https://orcid.org/0000-0003-1801-899x", "rank": 1,
        }]

    def test_parse_authors_flat(self, spark):
        env = read_openaire_json(spark, FIXTURE).withColumn(
            "query_doi", F.lit("10.5281/zenodo.4650794"))
        rows = parse_authors(env).collect()
        assert len(rows) == 1
        assert rows[0]["first_name"] == "Lucy"
        assert rows[0]["author_pos"] == 0

    def test_parse_date(self, spark):
        """reference tests/test_parser.py:173-177."""
        df = spark.createDataFrame([("2021-05-13",)], ["d"])
        row = df.select(
            F.year(F.to_date("d")).alias("y"),
            F.month(F.to_date("d")).alias("m"),
            F.dayofmonth(F.to_date("d")).alias("dd"),
        ).collect()[0]
        assert (row["y"], row["m"], row["dd"]) == (2021, 5, 13)


class TestDegenerateTrim:
    """reference parser.py:26-29 — the empty-substring branch of the
    mutual-substring repair still applies .strip() (round-2 ADVICE)."""

    def test_whitespace_surname_empty_name_splits(self, spark):
        # name='' -> '' in surname is True -> surname.strip() -> 'Ab Cd'
        # -> surname-only fallback splits to ('Ab', 'Cd')
        got = _parse_one(spark, {"name": "", "surname": " ab cd ",
                                 "rank": "1"})
        assert got == {"first_name": "Ab", "last_name": "Cd",
                       "orcid": None, "rank": 1}

    def test_nonempty_uncontained_names_keep_whitespace_path(self, spark):
        # both non-empty, neither contains the other -> NO strip happens
        # (the reference only strips inside the `in` branches)
        got = _parse_one(spark, {"name": "Lucy", "surname": "Allington",
                                 "rank": "2"})
        assert got == {"first_name": "Lucy", "last_name": "Allington",
                       "orcid": None, "rank": 2}


class TestOpenAlex:
    """reference parser.py:183-186 + get_metadata.py:69-87: the OpenAlex
    body contributes `id` and `cited_by_count` per DOI."""

    def test_parse_openalex_body(self, spark):
        import json

        from research_index_backend_spark.ingest.fetch import FETCH_SCHEMA
        from research_index_backend_spark.ingest.parse import parse_openalex

        body = json.dumps({
            "id": "https://openalex.org/W2053522485",
            "doi": "https://doi.org/10.5281/zenodo.4650794",
            "cited_by_count": 42,
            "counts_by_year": [
                {"year": 2024, "cited_by_count": 30},
                {"year": 2023, "cited_by_count": 12},
            ],
        })
        landed = spark.createDataFrame(
            [("10.5281/zenodo.4650794", "openalex", 200, None, body),
             ("10.5281/zenodo.9999999", "openalex", 404, "HTTP 404", None)],
            FETCH_SCHEMA)
        rows = parse_openalex(landed).collect()
        assert len(rows) == 1  # errored row drops out (the {"id": None} branch)
        r = rows[0]
        assert r["doi"] == "10.5281/zenodo.4650794"
        assert r["openalex"] == "https://openalex.org/W2053522485"
        assert r["cited_by_count"] == 42
        assert r["counts_by_year"] == {2024: 30, 2023: 12}
