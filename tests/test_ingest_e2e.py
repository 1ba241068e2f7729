"""End-to-end ingest: fixture envelope -> property-graph tables
(the reference's entry point 1, create_graph_from_doi.py:195-256, as one
composed plan) including author resolution, author_of edges, and
refers_to country tagging. The pipeline returns only the batch's rows;
upsert_parquet merges them with the stored tables, so re-ingest must be a
no-op there (idempotence — the reference's match-before-create)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from research_index_backend_spark.cli import TABLE_KEYS
from research_index_backend_spark.ingest.fetch import FETCH_SCHEMA
from research_index_backend_spark.ingest.parse import read_openaire_json
from research_index_backend_spark.ingest.pipeline import (
    build_graph_from_envelopes,
)
from research_index_backend_spark.operators.upsert import upsert_parquet
from research_index_backend_spark.schemas import AUTHOR_NODE, COUNTRY_NODE

FIXTURE = str(Path(__file__).parent / "fixtures" /
              "openaire_v2_simple.json")
DOI = "10.5281/zenodo.4650794"


@pytest.fixture(scope="module")
def envelopes(spark):
    return read_openaire_json(spark, FIXTURE).withColumn(
        "query_doi", F.lit(DOI))


@pytest.fixture(scope="module")
def empty_authors(spark):
    return spark.createDataFrame([], AUTHOR_NODE)


def _countries(spark, rows=()):
    return spark.createDataFrame(list(rows), ["id", "name"]) if rows \
        else spark.createDataFrame([], COUNTRY_NODE)


def _no_openalex(spark):
    return spark.createDataFrame([], FETCH_SCHEMA)


class TestGraphBuild:
    def test_nodes_and_edges(self, spark, envelopes, empty_authors):
        countries = _countries(spark, [("LBR", "Liberia"), ("KEN", "Kenya")])
        g = build_graph_from_envelopes(envelopes, empty_authors, countries,
                                       _no_openalex(spark))
        outputs = g["outputs"].collect()
        assert len(outputs) == 1
        assert outputs[0]["doi"] == DOI
        assert outputs[0]["title"] == "CCG Starter Data Kit: Liberia"

        authors = g["authors"].collect()
        assert len(authors) == 1
        assert authors[0]["first_name"] == "Lucy"

        edges = g["author_of"].collect()
        assert len(edges) == 1
        assert edges[0]["author_uuid"] == authors[0]["uuid"]
        assert edges[0]["output_uuid"] == outputs[0]["uuid"]
        assert edges[0]["rank"] == 1

        # refers_to: abstract 'A starter data kit for Liberia' CONTAINS
        # Liberia (case-sensitive, like the Cypher original) but not Kenya
        refers = g["refers_to"].collect()
        assert [(r["country_id"]) for r in refers] == ["LBR"]

    def test_reingest_idempotent(self, spark, envelopes, empty_authors,
                                 tmp_path):
        """Batch 1's deltas, then batch 2's deltas from the same envelopes,
        both merged through upsert_parquet: the second merge leaves every
        table unchanged — same uuids, no second author or edge."""
        countries = _countries(spark, [("LBR", "Liberia")])

        def ingest(authors):
            g = build_graph_from_envelopes(envelopes, authors, countries,
                                           _no_openalex(spark))
            for name, df in g.items():
                upsert_parquet(spark, df, str(tmp_path / name), TABLE_KEYS[name])
            return {name: sorted(map(tuple, spark.read.parquet(
                str(tmp_path / name)).drop("counts_by_year").collect()))
                for name in g}

        first = ingest(empty_authors)
        second = ingest(spark.read.parquet(str(tmp_path / "authors")))
        assert {k: len(v) for k, v in first.items()} == {
            "outputs": 1, "authors": 1, "author_of": 1, "refers_to": 1}
        # the known author resolves (matched, not re-created) and the edge
        # set stays identical
        assert second == first


class TestOpenAlexMerge:
    """The OpenAlex enrichment join (reference parser.py:183-186): outputs
    carry openalex + cited_by_count; counts_by_year stays None for parity
    (reference passes None, parser.py:188)."""

    def test_outputs_carry_openalex_columns(self, spark, envelopes,
                                            empty_authors):
        import json

        body = json.dumps({"id": "https://openalex.org/W1",
                           "cited_by_count": 7,
                           "counts_by_year": [{"year": 2024,
                                               "cited_by_count": 7}]})
        landed = spark.createDataFrame(
            [(DOI, "openalex", 200, None, body)], FETCH_SCHEMA)
        g = build_graph_from_envelopes(envelopes, empty_authors,
                                       _countries(spark), landed)
        out = g["outputs"].collect()[0]
        assert out["openalex"] == "https://openalex.org/W1"
        assert out["cited_by_count"] == 7
        assert out["counts_by_year"] is None  # reference parity

    def test_missing_openalex_leaves_nulls(self, spark, envelopes,
                                           empty_authors):
        g = build_graph_from_envelopes(envelopes, empty_authors,
                                       _countries(spark), _no_openalex(spark))
        out = g["outputs"].collect()[0]
        assert out["openalex"] is None and out["cited_by_count"] is None


class TestTitlePass:
    def test_title_only_match_creates_refers_to(self, spark, envelopes,
                                                empty_authors):
        """reference create_graph_from_doi.py:294-329 runs TWO tagging
        statements — abstract and title. 'Starter Data Kit' appears (case
        sensitively) only in the title, not the lowercase abstract."""
        countries = _countries(spark, [("XKT", "Starter Data Kit"),
                                       ("KEN", "Kenya")])
        g = build_graph_from_envelopes(envelopes, empty_authors, countries,
                                       _no_openalex(spark))
        refers = g["refers_to"].collect()
        assert [(r["country_id"]) for r in refers] == ["XKT"]


class TestMultiResultEnvelope:
    def test_in_id_distinguishes_results(self, spark):
        """An envelope with TWO results, each with an author at position 0,
        must resolve the two authors independently (round-2 ADVICE: in_id
        omitted result_idx and collided them)."""
        from research_index_backend_spark.schemas import OPENAIRE_SCHEMA

        def result(title, first, last):
            return {
                "mainTitle": title,
                "descriptions": ["abs"],
                "authors": [{"name": first, "surname": last, "rank": "1"}],
                "publicationDate": "2021-05-13",
                "publisher": "p",
                "type": "publication",
            }

        env = spark.createDataFrame(
            [{"results": [result("T1", "Alice", "Aardvark"),
                          result("T2", "Bob", "Badger")],
              "query_doi": "10.1234/multi"}],
            OPENAIRE_SCHEMA)
        g = build_graph_from_envelopes(env, spark.createDataFrame(
            [], "uuid string, first_name string, last_name string, "
                "orcid string, openalex string, rank int"),
            _countries(spark), _no_openalex(spark))
        authors = {(r["first_name"], r["last_name"])
                   for r in g["authors"].collect()}
        assert authors == {("Alice", "Aardvark"), ("Bob", "Badger")}
        # two distinct author_of edges, one per created author
        edges = g["author_of"].collect()
        assert len({e["author_uuid"] for e in edges}) == 2
