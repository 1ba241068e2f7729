"""Exact-Python-semantics scalar UDFs: str.title() and clean_html.

Python's str.title() is NOT Spark's initcap: it uppercases after every
non-alpha character ("plazas-nino" -> "Plazas-Nino", initcap gives
"Plazas-nino") and lowercases ALL-CAPS tails ("HABINSHUTI" -> "Habinshuti").
The reference title-cases author names with .title()
(reference src/research_index_backend/parser.py:24-25) and its golden tests
pin those cases (reference tests/test_parser.py:117-128), so parity needs
the real thing — an Arrow-batched pandas UDF, used only at ingest parse
time, never in hot analytic paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .text import clean_html_py


@F.pandas_udf(StringType())
def py_title_udf(s: pd.Series) -> pd.Series:
    """Exact str.title() (parser.py:24-25 parity)."""
    return s.map(lambda x: None if x is None else x.title())


@F.pandas_udf(StringType())
def clean_html_udf(s: pd.Series) -> pd.Series:
    """Exact clean_html (reference utils.py:5-23 parity) as one UDF —
    used where the regexp-chain twin (functions.text.clean_html_col) isn't
    exact enough (NFC + full entity unescape)."""
    return s.map(clean_html_py)


# Pure, but marked nondeterministic: the ingest parse (ingest/parse.py),
# their only caller, relies on the flag in its staged author cascade to
# keep Catalyst from re-evaluating a call in a pushed-down filter or a
# collapsed projection.
py_title_udf = py_title_udf.asNondeterministic()
clean_html_udf = clean_html_udf.asNondeterministic()
