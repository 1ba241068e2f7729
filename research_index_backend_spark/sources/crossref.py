"""Crossref enrichment source (U2): the notebook's row -> (title,
license) expand as a distributed fetch stage + a declarative extraction.

Reference behavior (reference notebooks/crossref.ipynb):
- cell 5 `get_doi`: GET /works/{doi}/agency first; only when the agency
  id is 'crossref' fetch GET /works/{doi}, otherwise return None;
- cell 6 `get_titles`: per-row DOI -> (title, license) where title =
  message.title[0] and license = the first URL among message.license
  entries whose content-version == 'vor' (version-of-record), else None
  — applied with `df.apply(..., result_type='expand')` and written back
  onto the papers frame;
- cell 2: ORCID work listing via /works?filter=orcid:{orcid}.

Spark-first design (the ingest/fetch.py seam): HTTP runs ONLY inside
mapInPandas — one Arrow batch of DOIs per task, the two-step
agency->work probe per DOI, and errors land as DATA (status/error
columns), never exceptions. The pandas `.apply` expand becomes pure
column expressions over the landed JSON envelope (from_json + array
filter) — no Python in the extraction path, so enrichment joins stay
whole-stage-codegen'd at any corpus size.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..ingest.fetch import Transport, default_transport

CROSSREF_API = "https://api.crossref.org"

CROSSREF_SCHEMA = StructType([
    StructField("query_doi", StringType()),
    StructField("agency", StringType()),
    StructField("status", IntegerType()),
    StructField("error", StringType()),
    StructField("body", StringType()),
])

# the message fields cell 6 consumes; everything else stays in the raw
# body for later passes (schema-on-read, not schema-on-land)
WORK_MESSAGE_SCHEMA = StructType([
    StructField("message", StructType([
        StructField("title", ArrayType(StringType())),
        StructField("license", ArrayType(StructType([
            StructField("URL", StringType()),
            StructField("content-version", StringType()),
        ]))),
    ])),
])


def agency_url(doi: str) -> str:
    """crossref.ipynb cell 5's registration-agency probe. The DOI is
    percent-encoded (the notebook interpolates raw, but DOIs may carry
    '#'/'?'/spaces — raw interpolation would silently query a different
    resource and land a wrong-but-200 body)."""
    from urllib.parse import quote
    return f"{CROSSREF_API}/works/{quote(doi, safe='')}/agency"


def work_url(doi: str) -> str:
    from urllib.parse import quote
    return f"{CROSSREF_API}/works/{quote(doi, safe='')}"


def _agency_id(text: str) -> str | None:
    try:
        return json.loads(text)["message"]["agency"]["id"]
    except (ValueError, KeyError, TypeError):
        return None


def fetch_crossref(dois: DataFrame,
                   transport: Transport | None = None) -> DataFrame:
    """Distributed two-step Crossref fetch: dois(doi) -> CROSSREF_SCHEMA.

    Per DOI: agency probe first; a non-crossref agency short-circuits to
    an error row carrying the agency id (the notebook's `return None`
    branch, cell 5 — datacite DOIs surface as agency='datacite' for a
    later datacite pass rather than silently vanishing). Partition count
    of the work list is the concurrency knob.
    """
    tx = transport or default_transport

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("query_doi", "agency", "status", "error", "body")}
            for doi in pdf["doi"]:
                agency, status, err, body = None, -1, None, None
                try:
                    a_status, a_text = tx(agency_url(doi), {})
                    if a_status >= 400:
                        status, err = a_status, f"HTTP {a_status} (agency)"
                    else:
                        agency = _agency_id(a_text)
                        if agency is None:
                            status, err = a_status, "invalid agency JSON"
                        elif agency != "crossref":
                            # cell 5 returns None for non-crossref DOIs;
                            # we keep the agency so a datacite fallback
                            # stage (cell 18) can claim these rows
                            status, err = a_status, f"agency:{agency}"
                        else:
                            status, text = tx(work_url(doi), {})
                            if status >= 400:
                                err = f"HTTP {status}"
                            else:
                                try:
                                    json.loads(text)
                                    body = text
                                except ValueError:
                                    err = "invalid JSON"
                except Exception as exc:  # network failure -> data
                    err = str(exc)
                out["query_doi"].append(doi)
                out["agency"].append(agency)
                out["status"].append(status)
                out["error"].append(err)
                out["body"].append(body)
            yield pd.DataFrame(out)

    return dois.select("doi").mapInPandas(run, CROSSREF_SCHEMA)


def titles_licenses(landed: DataFrame,
                    body_col: str = "body") -> DataFrame:
    """Cell 6's `(title, license)` expand as pure column expressions:
    title = message.title[0]; license = first URL whose content-version
    is 'vor', NULL when none. Runs on the landed envelope table —
    whole-stage codegen, no Python."""
    msg = F.from_json(F.col(body_col), WORK_MESSAGE_SCHEMA)["message"]
    vor = F.filter(msg["license"],
                   lambda lc: lc["content-version"] == F.lit("vor"))
    # try_element_at: ANSI mode (Spark 4 default) makes element_at THROW
    # on an empty array — license-free works must yield NULL, not fail
    return landed.select(
        "query_doi",
        F.try_element_at(msg["title"], F.lit(1)).alias("title"),
        F.try_element_at(vor, F.lit(1))["URL"].alias("license"),
    )
