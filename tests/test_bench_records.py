"""Spark-free checks of the bench record shape: a subset run merged into
the record at its path (bench.merge) and the per-row ratios of two
records (tools/bench_compare.py)."""

from __future__ import annotations

from bench import merge
from tools.bench_compare import compare


def _record(sf, queries, **extra):
    return {"metric": "total_query_sec", "unit": "sec", "sf": sf,
            "cpus": 4, "queries": queries, **extra}


def test_subset_merge_keeps_unrun_rows_and_recomputes_total():
    prev = _record(0.1, {"a": 1.0, "b": 2.0, "c": -1.0, "gone": 5.0},
                   value=8.0, layers={"a": {"jobs": 1}, "b": {"jobs": 2}})
    run = _record(0.1, {"b": 0.5, "c": 3.0},
                  layers={"b": {"jobs": 3}, "c": {"jobs": 4}})
    full = merge(prev, run, catalog={"a", "b", "c"})
    assert full["queries"] == {"a": 1.0, "b": 0.5, "c": 3.0}
    assert full["layers"] == {"a": {"jobs": 1}, "b": {"jobs": 3},
                              "c": {"jobs": 4}}
    assert full["value"] == 4.5


def test_merge_ignores_a_record_at_another_scale():
    prev = _record(1.0, {"a": 10.0}, layers={})
    full = merge(prev, _record(0.1, {"b": 0.5}, layers={}), catalog={"a", "b"})
    assert full["queries"] == {"b": 0.5} and full["value"] == 0.5


def test_compare_flags_rows_above_the_sf_ratio():
    base = _record(0.1, {"linear": 1.0, "super": 1.0, "only_base": 1.0})
    new = _record(1.0, {"linear": 9.0, "super": 12.0, "failed": -1.0})
    assert compare(base, new) == [("super", 1.0, 12.0, 12.0, True),
                                  ("linear", 1.0, 9.0, 9.0, False)]


def test_compare_at_one_scale_flags_nothing():
    base = _record(0.01, {"q": 1.0})
    new = _record(0.01, {"q": 3.0})
    assert compare(base, new) == [("q", 1.0, 3.0, 3.0, False)]
