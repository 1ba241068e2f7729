"""Assemble PROBE_LEDGER.md — the exact per-query scaling-probe ledger
(r12 VERDICT next-round item 4).

Every catalog query gets exactly one classified row:

- ``scaled``      — in probe_10x.SCALED (the long-standing probe set);
- ``scaled-tail`` — in probe_10x.SCALED_TAIL (scaled primary inputs,
                    formalized r13 from per-plan inputFiles());
- ``dim-bound``   — primary inputs are the unscaled dimension tables
                    (region/nation/supplier), so a scaling ratio is
                    flat by construction and not probe-meaningful.

plus its measured 10x and 100x wall-clock ratios vs the committed
sf0.1 record (BENCH_FULL.json) where probed, from the probe JSONs
produced by ``RIB_PROBE_OUT=... python tools/probe_10x.py``.

Input-table attribution comes from DataFrame.inputFiles() on each
built plan; the handful of checkpoint-opaque plans (localCheckpoint
breaks lineage before any file scan is materialized) are attributed
from their documented source tables and marked.

Usage:
    python tools/probe_ledger.py out.md probe10x.json [probe10x_b.json ...] \
        --x100 probe100x.json [...]

Probe JSONs listed before --x100 fill the 10x column (later files win
on collision); files after it fill the 100x column.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALED_TABLES = {"documents", "lineitem", "customer", "embeddings",
                 "orders", "events", "part"}
DIM_TABLES = {"region", "nation", "supplier"}
ALL_TABLES = SCALED_TABLES | DIM_TABLES

_TABLE_RE = re.compile(
    r'"(%s)"' % "|".join(sorted(ALL_TABLES)))


def _source_tables(fn, qs: dict | None = None, _seen=None) -> list[str]:
    """Fallback attribution for lineage-opaque plans (localCheckpoint /
    cache cuts inputFiles() before any file scan): table-name string
    literals in the plan function's own source, following one style of
    indirection — catalog plans that compose OTHER catalog plans
    (``q_foo(spark, sf_dir)``) inherit the callee's tables. Every leaf
    plan names its tables via _t(spark, sf_dir, "<table>") by
    convention."""
    import inspect
    _seen = _seen or set()
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    tabs = set(_TABLE_RE.findall(src))
    if qs:
        for callee in re.findall(r"\bq_(\w+)\(spark", src):
            if callee in qs and callee not in _seen:
                _seen.add(callee)
                tabs.update(_source_tables(qs[callee], qs, _seen))
    # Module-level private helpers (e.g. _cdf_lattice) that take
    # (spark, sf_dir) and do the actual _t() loads.
    for helper in re.findall(r"\b(_[a-z]\w+)\(spark", src):
        g = getattr(fn, "__globals__", {})
        if helper in g and callable(g[helper]) and helper not in _seen:
            _seen.add(helper)
            tabs.update(_source_tables(g[helper], qs, _seen))
    return sorted(tabs)


def classify(spark, qs, sf_dir: str) -> dict[str, dict]:
    out = {}
    for name, fn in qs.items():
        files = fn(spark, sf_dir).inputFiles()
        tabs = sorted({m.group(1) for f in files
                       if (m := re.search(r"/(\w+)\.parquet", f))})
        opaque = not tabs
        if opaque:
            tabs = _source_tables(fn, qs)
        out[name] = {"tables": tabs, "opaque": opaque}
    return out


def main(argv: list[str]) -> None:
    from __spark_entry__ import queries

    from research_index_backend_spark.session import get_spark
    from tools.probe_10x import SCALED, SCALED_TAIL

    if "--x100" in argv:
        i = argv.index("--x100")
        out_md, x10_files, x100_files = argv[0], argv[1:i], argv[i + 1:]
    else:
        out_md, x10_files, x100_files = argv[0], argv[1:], []

    def load(paths):
        acc = {}
        for p in paths:
            with open(p) as fh:
                acc.update(json.load(fh)["queries"])
        return acc

    x10, x100 = load(x10_files), load(x100_files)

    spark = get_spark()
    qs = queries()
    info = classify(spark, qs, "/root/testdata/sf0.01")

    s, tail = set(SCALED), set(SCALED_TAIL)
    rows, problems = [], []
    for name in sorted(qs):
        tabs = info[name]["tables"]
        if name in s:
            cls = "scaled"
        elif name in tail:
            cls = "scaled-tail"
        elif tabs and set(tabs) <= DIM_TABLES:
            cls = "dim-bound"
        else:
            cls = "UNCLASSIFIED"
            problems.append(f"{name}: not in any probe list, tables={tabs}")
        if cls in ("scaled", "scaled-tail") and not set(tabs) & SCALED_TABLES:
            problems.append(f"{name}: listed {cls} but reads only {tabs}")
        if cls == "dim-bound" and set(tabs) & SCALED_TABLES:
            problems.append(f"{name}: dim-bound but reads scaled {tabs}")

        def fmt(d):
            if name not in d or d[name].get("ratio") is None:
                return "—"
            e = d[name]
            return f"{e['ratio']}x ({e['t']}s)"

        note = "checkpoint-opaque; tables from source" \
            if info[name]["opaque"] else ""
        if cls == "dim-bound":
            note = "inputs unscaled by gen_10x; ratio flat by construction"
        rows.append((name, cls, ",".join(tabs), fmt(x10), fmt(x100), note))

    n = {c: sum(1 for r in rows if r[1] == c)
         for c in ("scaled", "scaled-tail", "dim-bound", "UNCLASSIFIED")}
    missing10 = [r[0] for r in rows
                 if r[1] in ("scaled", "scaled-tail") and r[3] == "—"]
    missing100 = [r[0] for r in rows
                  if r[1] in ("scaled", "scaled-tail") and r[4] == "—"]

    with open(out_md, "w") as f:
        f.write(
            "# Scaling-probe ledger (r13, regenerable via "
            "tools/probe_ledger.py)\n\n"
            "Every catalog query, classified, with measured wall-clock "
            "ratios vs the\ncommitted sf0.1 record (BENCH_FULL.json): "
            "10x = /tmp/sf1 (6M lineitem /\n1M events / 50k docs), "
            "100x = /tmp/sf10 (60M lineitem / 10M events /\n500k docs "
            "/ 2M parts), both corpora from tools/gen_10x.py. "
            "Ratios are\nmin-of-2 in a shared local[32] 16g session "
            "(tools/probe_10x.py); the\nregression gate remains the "
            "driver bench — this ledger is coverage, the\nclassification "
            "is the contract.\n\n"
            f"Coverage: {len(rows)} queries = {n['scaled']} scaled + "
            f"{n['scaled-tail']} scaled-tail +\n{n['dim-bound']} "
            f"dim-bound; {len(missing10)} scaled rows without a 10x "
            f"number, {len(missing100)} without 100x.\n\n"
            "| query | class | inputs | 10x | 100x | note |\n"
            "|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote {out_md}: {n}")
    if missing10:
        print("missing 10x:", ", ".join(missing10))
    if missing100:
        print("missing 100x:", ", ".join(missing100))
    for p in problems:
        print("PROBLEM:", p)
    if problems:
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
