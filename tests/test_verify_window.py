"""Catalog ordering: the correctness harness verifies the first
~50 queries() entries, so the catalog order IS the round's official
verification window.

These tests assert the ordering RULE, not frozen names, so the window
rotates on its own as CORRECTNESS_r*.json records accumulate:
- the plans declared in ``CHANGED`` (physical form changed since their
  last official check) lead, in declared order;
- behind them the last-official round never decreases (stalest first,
  then by name), so each 50-row window refreshes the oldest records;
- every catalog query appears exactly once and has a DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from research_index_backend_spark.plans import catalog  # noqa: E402

CATALOG_SIZE = 315


def _official_last_round() -> dict[str, int]:
    # Record files are zero-padded (CORRECTNESS_r01.json); take every
    # round present rather than a pinned range.
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                for name in json.load(fh):
                    last[name] = max(last.get(name, 0), int(m[1]))
    assert last, "no CORRECTNESS_r*.json found — pattern drifted"
    return last


def test_window_leads_catalog_order():
    names = list(entry.queries())
    assert names[:len(entry.CHANGED)] == list(entry.CHANGED)


def test_window_is_the_50_stalest_rows():
    # Behind CHANGED, the 50-row window is filled with the stalest
    # official rows — no verify budget spent on fresh records.
    last = _official_last_round()
    rest = [n for n in entry.queries() if n not in entry.CHANGED]
    stalest = sorted(rest, key=lambda n: (last.get(n, 0), n))
    window = list(entry.queries())[:50]
    assert window == list(entry.CHANGED) + stalest[:50 - len(entry.CHANGED)]


def test_whole_tuple_ordered_stalest_first():
    last = _official_last_round()
    tail = list(entry.queries())[len(entry.CHANGED):]
    keys = [(last.get(n, 0), n) for n in tail]
    assert keys == sorted(keys), "tail not ordered by (last round, name)"


def test_verify_first_names_all_resolve():
    names = list(entry.queries())
    assert names == list(entry._VERIFY_FIRST)
    assert len(names) == len(set(names)) == CATALOG_SIZE


def test_every_window_query_has_oracle():
    # The harness's value-hash compare needs an oracle_sql entry; a
    # rows-only check is a weaker gate the window shouldn't ship.
    assert list(entry.oracle_sql()) == list(entry.queries())


def test_full_coverage_no_never_checked_rows():
    # The never-checked backlog was cleared in r12: every catalog query
    # must hold an official row. If this fails, a NEW query was added —
    # it sorts to the front of the tail (round 0) on its own.
    last = _official_last_round()
    never = [n for n in entry.queries() if n not in last]
    assert not never, f"queries without any official row: {never}"


def _fake_package(tmp_path, monkeypatch, modules: dict[str, str]) -> str:
    pkg = tmp_path / "fake_catalog"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    for name, src in modules.items():
        (pkg / f"{name}.py").write_text(src)
    monkeypatch.syspath_prepend(str(tmp_path))
    return pkg.name


def test_catalog_rejects_duplicate_name(tmp_path, monkeypatch):
    pkg = _fake_package(tmp_path, monkeypatch, {
        "queries_a": "QUERIES_A = {'dup': None}\nORACLE_A = {'dup': 'x'}\n",
        "queries_b": "QUERIES_B = {'dup': None}\nORACLE_B = {'dup': 'x'}\n",
    })
    with pytest.raises(ValueError,
                       match=rf"'dup' .*{pkg}\.queries_a and {pkg}\.queries_b"):
        catalog(pkg)
