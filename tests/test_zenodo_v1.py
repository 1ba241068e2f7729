"""Legacy v1 oaf-envelope parse golden against the reference's zenodo
fixture (reference tests/fixtures/zenodo.json — the
response.results.result[] XML-to-JSON dialect)."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from research_index_backend_spark.ingest.parse import (
    parse_zenodo_v1,
    read_zenodo_v1_json,
)

FIXTURE = str(Path(__file__).parent / "fixtures" /
              "zenodo.json")


def test_zenodo_v1_golden(spark):
    env = read_zenodo_v1_json(spark, FIXTURE)
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0].asDict()

    # doi from the @classid='doi' pid ($ value); no query_doi side channel
    assert r["doi"] == "10.5281/zenodo.4650794"
    assert r["title"] == "CCG Starter Data Kit: Liberia"
    assert r["abstract"] == "A starter data kit for Liberia"
    assert r["journal"] == ""          # zenodo records carry no journal
    assert r["publisher"] == "Zenodo"
    # dateofacceptance.$ = 2023-01-16
    assert (r["publication_year"], r["publication_month"],
            r["publication_day"]) == (2023, 1, 16)
    # resulttype @classid; resourcetype schemeid is dnet:dataCite_resource,
    # which the scheme dispatch (parser.py:150-163) does NOT map
    assert r["result_type"] == "dataset"
    assert r["resource_type"] is None
    assert r["cited_by_count_date"] == datetime.now().year

    # creator[0]: @rank=1 @name=Lucy @surname=Allington
    # @orcid_pending=0000-0003-1801-899x
    assert len(r["authors"]) == 1
    a = r["authors"][0].asDict()
    assert a == {
        "first_name": "Lucy",
        "last_name": "Allington",
        "orcid": "https://orcid.org/0000-0003-1801-899x",
        "rank": 1,
    }


def test_zenodo_v1_query_doi_side_channel(spark):
    env = read_zenodo_v1_json(spark, FIXTURE).withColumn(
        "query_doi", F.lit("10.9999/landed"))
    r = parse_zenodo_v1(env).collect()[0]
    assert r["doi"] == "10.9999/landed"


def test_zenodo_v1_null_doi_keeps_authors(spark):
    """Envelope with neither query_doi nor a @classid='doi' pid: the doi
    is null, but the authors re-join keys on the surrogate env_id, so
    parsed creators must still attach (a doi-keyed join would never match
    a null key and silently emit an empty author array)."""
    env = read_zenodo_v1_json(spark, FIXTURE).withColumn(
        "response",
        F.col("response").withField(
            "results.result",
            F.transform(
                F.col("response.results.result"),
                lambda res: res.withField(
                    "metadata.`oaf:entity`.`oaf:result`.pid",
                    F.filter(
                        res["metadata"]["oaf:entity"]["oaf:result"]["pid"],
                        lambda p: p["@classid"] != "doi")))))
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doi"] is None
    assert len(r["authors"]) == 1
    assert r["authors"][0]["last_name"] == "Allington"


def test_zenodo_v1_duplicate_envelopes_do_not_cross_merge(spark):
    """Two identical envelopes share (doi, result_idx); the surrogate
    env_id must keep their author lists separate — each output row gets
    exactly its own 1 creator, not a cross-merged 2."""
    one = read_zenodo_v1_json(spark, FIXTURE)
    rows = parse_zenodo_v1(one.unionAll(one)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["doi"] == "10.5281/zenodo.4650794"
        assert len(r["authors"]) == 1
