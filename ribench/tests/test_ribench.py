"""Self-tests of the benchmark: ``python3 -m pytest ribench/tests -q``.

The input tests run in about a second. The traced-run tests start the
benchmark itself (one Spark session per run, about four minutes in all);
skip them with ``-m "not spark"``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from ribench import gen  # noqa: E402


def _tree(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes()
            for p in sorted(d.rglob("*")) if p.is_file()}


def test_seed_regenerates_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen.write_catalog_tables(5, tmp_path / run / "catalog")
        pre = gen.write_graph_preload(5, tmp_path / run / "graph",
                                      n_outputs=500, n_authors=150)
        for i, b in enumerate(gen.make_batches(5, pre, 3)):
            (tmp_path / run / f"batch{i}.json").write_text(json.dumps(
                [b.lines, sorted(map(list, b.responses.items())),
                 sorted(b.failing), b.scorecard]))
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    gen.write_catalog_tables(6, tmp_path / "c")
    assert _tree(tmp_path / "c") != _tree(tmp_path / "a" / "catalog")


def test_batches_are_consistent(tmp_path):
    preload = gen.write_graph_preload(1, tmp_path, n_outputs=1000,
                                      n_authors=300)
    seen: set[str] = set()
    for b in gen.make_batches(1, preload, 5):
        c = b.scorecard
        assert len(b.lines) == c["submitted_dois"] == gen.BATCH_LINES
        assert c["metadata_pass"] + c["metadata_failure"] == c["processed_dois"]
        assert c["valid_pattern_dois"] == c["new_dois"] + c["existing_dois"]
        assert b.new_outputs == c["ingested_dois"]
        # every processed DOI has a response from both sources
        assert len(b.responses) == 2 * c["processed_dois"]
        new = {d for (_, d) in b.responses}
        assert not new & seen          # new DOIs are new across batches
        seen |= new


def test_benchmark_json_matches_the_metrics_printed():
    from ribench import run

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS[:2])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def _traced(workload: str, seed: int) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, str(ROOT / "ribench" / "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    spans = json.loads((ROOT / ".ribench_out" /
                        f"trace-{workload}-{seed}.json").read_text())
    return result, spans


def _check_jobs_in_one_span(spans: list[dict]) -> None:
    """Every job lands in exactly one span, and the jobs under each root
    span (one batch or one query) are one gap-free run of job ids: nothing
    ran untraced while it was open."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent_id"], []).append(s)

    def jobs_under(s: dict) -> list[int]:
        return s["jobs"] + [j for c in children.get(s["span_id"], [])
                            for j in jobs_under(c)]

    everything: list[int] = []
    for root in children[None]:
        jobs = jobs_under(root)
        assert jobs, root["name"]
        assert sorted(jobs) == list(range(min(jobs), max(jobs) + 1)), root["name"]
        everything += jobs
    assert len(everything) == len(set(everything))
    assert sorted(everything) == sorted(j for s in spans for j in s["jobs"])


@pytest.mark.spark
def test_catalog_trace_layers_and_jobs():
    result, spans = _traced("catalog_graph", 11)
    assert result["correct"]
    by_id = {s["span_id"]: s for s in spans}
    queries = [s for s in spans if s["name"].startswith("q.")]
    assert queries
    for q in queries:
        kids = [s for s in spans if s["parent_id"] == q["span_id"]]
        assert sorted(k["name"] for k in kids) == [
            "plans.build", "plans.exec", "plans.plan"]
        parts = sum(k["end"] - k["start"] for k in kids)
        wall = q["end"] - q["start"]
        # build + plan + exec add up to the query's wall time
        assert abs(wall - parts) <= 0.01 + 0.01 * wall, q["name"]
    assert all(s["parent_id"] is None or s["parent_id"] in by_id for s in spans)
    _check_jobs_in_one_span(spans)

    # job counts repeat exactly in a second process with the same seed
    again, _ = _traced("catalog_graph", 11)
    jobs = {k: v["value"] for k, v in result["metrics"].items()
            if k.endswith(".jobs") or k == "spark.jobs"}
    assert jobs == {k: v["value"] for k, v in again["metrics"].items()
                    if k in jobs}


@pytest.mark.spark
def test_ingest_trace_jobs():
    result, spans = _traced("ingest_batches", 12)
    assert result["correct"]
    assert {s["name"] for s in spans} >= {
        "op", "sources.read_doi_list", "ingest.fetch", "ingest.pipeline",
        "ingest.parse", "operators.resolve", "operators.upsert",
        "cli.checkpoint"}
    _check_jobs_in_one_span(spans)
