"""Core-count scaling probe at the 10x corpus (r13 VERDICT item 4).

The driver's 8-vs-32-core comparison at sf0.1 cannot show parallel
scaling: the catalog there is task-scheduling-overhead-bound, so fewer
cores (fewer shuffle partitions) reads FASTER. This probe re-runs the
heaviest scan/shuffle-bound queries on the 10x corpus (/tmp/sf1 from
tools/gen_10x.py), where work dominates overhead, at two core counts in
separate Spark sessions (one subprocess per core count — the master URL
is fixed per JVM), min-of-2 per query, and writes the low/high wall
ratio per query to PROBE_SCALING_r14.json.

Usage:
    python tools/probe_scaling.py              # orchestrates both runs
    python tools/probe_scaling.py --child 8    # internal: one session
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

PROBE_DIR = os.environ.get("RIB_PROBE_DIR", "/tmp/sf1")
OUT_NAME = os.environ.get("RIB_PROBE_OUT", "PROBE_SCALING_r14.json")
CPUS_LOW, CPUS_HIGH = 8, 32

# The heaviest 10x completers whose primary inputs were scaled
# (PROBE_LEDGER.md 10x column), i.e. where compute should dominate the
# fixed per-job overhead and the core ratio is meaningful.
HEAVY = [
    "graph_jaccard_similarity", "hits_hubs_authorities", "graph_pagerank",
    "graph_clustering_coeff", "graph_pagerank_dangling", "graph_sssp",
    "graph_two_hop", "harmonic_centrality_seeds", "rich_club_coefficient",
    "similarity_join", "dedup_survivors", "containment_dedup",
    "lm_quality_score", "dedup_ngram_jaccard", "bpe_encode",
    "ann_pq_trained", "ktruss_edges", "link_prediction_ra",
]
if os.environ.get("RIB_PROBE_QUERIES"):
    HEAVY = os.environ["RIB_PROBE_QUERIES"].split(",")


def child(cpus: int) -> None:
    from __spark_entry__ import queries
    from research_index_backend_spark.session import get_spark

    spark = get_spark(cpus=str(cpus))
    qs = queries()

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"scaling probe c{cpus}: {name}")
        t0 = time.perf_counter()
        qs[name](spark, PROBE_DIR).write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t0

    # warmup: JVM + codegen + footers
    try:
        run(HEAVY[0])
    except Exception:
        pass
    out: dict[str, float] = {}
    for name in HEAVY:
        try:
            out[name] = round(min(run(name), run(name)), 3)
        except Exception as exc:
            print(f"probe: {name} failed: {exc}", file=sys.stderr)
            out[name] = -1.0
    print("CHILD_JSON:" + json.dumps(out), flush=True)


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
        return 0
    results: dict[int, dict[str, float]] = {}
    for cpus in (CPUS_HIGH, CPUS_LOW):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus)],
            capture_output=True, text=True, env=env)
        line = [ln for ln in p.stdout.splitlines()
                if ln.startswith("CHILD_JSON:")]
        if not line:
            print(f"child c{cpus} produced no result:\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        results[cpus] = json.loads(line[-1][len("CHILD_JSON:"):])
        print(f"c{cpus}: total "
              f"{round(sum(t for t in results[cpus].values() if t > 0), 1)}s")
    per_query = {}
    for name in HEAVY:
        hi = results[CPUS_HIGH].get(name, -1.0)
        lo = results[CPUS_LOW].get(name, -1.0)
        per_query[name] = {
            f"c{CPUS_HIGH}_sec": hi, f"c{CPUS_LOW}_sec": lo,
            "low_over_high": round(lo / hi, 3) if hi > 0 and lo > 0 else None,
        }
    out = {
        "probe_dir": PROBE_DIR, "cpus_high": CPUS_HIGH, "cpus_low": CPUS_LOW,
        "methodology": "min-of-2 per query per core count, one Spark "
                       "session per core count, noop sink",
        "per_query": per_query,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), OUT_NAME)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {path}")
    for name, d in sorted(per_query.items(),
                          key=lambda kv: -(kv[1]["low_over_high"] or 0)):
        hi, lo = d[f"c{CPUS_HIGH}_sec"], d[f"c{CPUS_LOW}_sec"]
        print(f"{name:32s} c{CPUS_HIGH}={hi:8.2f} c{CPUS_LOW}={lo:8.2f} "
              f"ratio={d['low_over_high']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
