"""Dump .explain("formatted") for named catalog queries to text files.

Usage:
    python tools/plan_dump.py <repo_root> <out_dir> <suffix> <query> [...]

Builds each query from <repo_root>'s __spark_entry__.queries() against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and writes the
formatted physical plan to <out_dir>/<query>_<suffix>.txt. Run once at
HEAD (suffix "after") and once from a checkout of the pre-change commit
(suffix "before") to produce the plan-diff evidence pair.

Plans are written normalized: expression ids (#n), plan_id= counters,
RDD ids and localCheckpoint call sites are session-local counters, not
plan shape, so they are masked and a before/after pair diffs clean with
plain `diff` unless the physical plan really changed.
"""
from __future__ import annotations

import os
import re
import sys

_VOLATILE = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"(localCheckpoint) at [^,\]\s]+"), r"\1"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    repo, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    sys.path.insert(0, repo)
    os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

    from __spark_entry__ import queries  # noqa: E402

    qs = queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        print(f"catalog has {len(qs)} queries; nearest matches: "
              f"{sorted(n for n in qs if any(u in n for u in unknown))[:10]}",
              file=sys.stderr)
        return 2

    from research_index_backend_spark.session import get_spark  # noqa: E402

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for n in names:
        spark.sparkContext.setJobDescription(f"plan_dump: {n}")
        df = qs[n](spark, sf_dir)
        plan = normalize(df._jdf.queryExecution().explainString(mode))
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
