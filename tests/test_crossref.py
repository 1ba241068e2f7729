"""Crossref enrichment source (U2, reference notebooks/crossref.ipynb):
two-step agency->work fetch with hermetic transport, error mapping as
data, and the (title, license) expand as column expressions."""

from __future__ import annotations

import json

import pytest

from research_index_backend_spark.sources.crossref import (
    agency_url,
    fetch_crossref,
    titles_licenses,
    work_url,
)


def _agency(aid: str) -> str:
    return json.dumps({"message": {"agency": {"id": aid}}})


WORK_VOR = json.dumps({"message": {
    "title": ["A VOR Paper"],
    "license": [
        {"URL": "https://tdm.example/x", "content-version": "tdm"},
        {"URL": "https://vor.example/y", "content-version": "vor"},
    ]}})
WORK_NO_VOR = json.dumps({"message": {
    "title": ["No VOR Here"],
    "license": [{"URL": "https://tdm.example/z", "content-version": "tdm"}]}})
WORK_NO_LICENSE = json.dumps({"message": {"title": ["Bare Title"]}})


def make_fake_transport():
    """Closure pickles by value (cloudpickle) — executors never import
    this test module."""
    crossref_agency = _agency("crossref")
    datacite_agency = _agency("datacite")
    vor, no_vor, bare = WORK_VOR, WORK_NO_VOR, WORK_NO_LICENSE

    def fake_transport(url: str, headers: dict) -> tuple[int, str]:
        if url.endswith("/agency"):
            if "zenodo" in url:
                return 200, datacite_agency
            if "missing" in url:
                return 404, ""
            return 200, crossref_agency
        if "novor" in url:
            return 200, no_vor
        if "bare" in url:
            return 200, bare
        if "broken" in url:
            return 200, "not json"
        return 200, vor

    return fake_transport


@pytest.fixture()
def landed(spark):
    dois = spark.createDataFrame(
        [("10.1/ok",), ("10.1/novor",), ("10.1/bare",), ("10.1/broken",),
         ("10.5281/zenodo.1",), ("10.1/missing",)], ["doi"])
    return fetch_crossref(dois, transport=make_fake_transport())


def test_fetch_two_step_and_error_mapping(landed):
    rows = {r["query_doi"]: r for r in landed.collect()}
    # happy path: agency probe passed, work body landed
    assert rows["10.1/ok"]["agency"] == "crossref"
    assert rows["10.1/ok"]["error"] is None
    assert json.loads(rows["10.1/ok"]["body"])["message"]["title"] == \
        ["A VOR Paper"]
    # cell 5's None branch: non-crossref agency -> error row that still
    # names the agency so a datacite pass can claim it (cell 18)
    assert rows["10.5281/zenodo.1"]["agency"] == "datacite"
    assert rows["10.5281/zenodo.1"]["error"] == "agency:datacite"
    assert rows["10.5281/zenodo.1"]["body"] is None
    # agency probe HTTP error and garbled work JSON -> data, not raises
    assert rows["10.1/missing"]["error"] == "HTTP 404 (agency)"
    assert rows["10.1/broken"]["error"] == "invalid JSON"
    assert rows["10.1/broken"]["body"] is None


def test_titles_licenses_expand(landed):
    rows = {r["query_doi"]: r for r in titles_licenses(landed).collect()}
    # cell 6: title = message.title[0]; license = first vor URL
    assert rows["10.1/ok"]["title"] == "A VOR Paper"
    assert rows["10.1/ok"]["license"] == "https://vor.example/y"
    # non-vor-only and license-free works -> NULL license, title kept
    assert rows["10.1/novor"]["title"] == "No VOR Here"
    assert rows["10.1/novor"]["license"] is None
    assert rows["10.1/bare"]["title"] == "Bare Title"
    assert rows["10.1/bare"]["license"] is None
    # error rows flow through as NULLs (no body to parse)
    assert rows["10.1/broken"]["title"] is None


def test_titles_licenses_plan_is_python_free(landed):
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        titles_licenses(landed).explain("formatted")
    # the fetch stage is mapInPandas (Arrow), but the EXTRACTION adds no
    # Python operator of its own — from_json/filter are JVM expressions
    assert "BatchEvalPython" not in buf.getvalue()


def test_url_builders():
    # DOIs percent-encode (slash included): a '#' in a raw DOI would
    # become a fragment and silently query the wrong resource
    assert agency_url("10.1/x") == \
        "https://api.crossref.org/works/10.1%2Fx/agency"
    assert work_url("10.1/a#b") == \
        "https://api.crossref.org/works/10.1%2Fa%23b"
