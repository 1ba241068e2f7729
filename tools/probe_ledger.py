"""Assemble PROBE_LEDGER.md — the per-query scaling-probe ledger.

Every catalog query gets exactly one class, derived from its own inputs:

- ``scaled``    — reads at least one table tools/gen_10x.py scales;
- ``dim-bound`` — reads only the unscaled dimension tables
                  (region/nation/supplier), or no table, so a scaling
                  ratio is flat by construction and not probe-meaningful.

plus its measured wall-clock ratio in each probe record: the row's time
in a bench record made on a larger corpus divided by its time in the
sf0.1 base record of the same core count (see bench.record_path).

Input-table attribution comes from DataFrame.inputFiles() on each
built plan; the handful of checkpoint-opaque plans (localCheckpoint
breaks lineage before any file scan is materialized) are attributed
from their documented source tables and marked.

Usage:
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py        # 10x record
    SPARK_GRAFT_SF_DIR=/tmp/sf10 python bench.py       # 100x record
    python tools/probe_ledger.py out.md BENCH_FULL_c4.json \
        BENCH_FULL_sf1.0_c4.json BENCH_FULL_sf10.0_c4.json

Each probe record after the base fills one column, headed by its scale
over the base (10x, 100x).
"""

from __future__ import annotations

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
    """Input tables and probe class of each row in `qs`."""
    out = {}
    for name, fn in qs.items():
        files = fn(spark, sf_dir).inputFiles()
        tabs = sorted({m.group(1) for f in files
                       if (m := re.search(r"/(\w+)\.parquet", f))})
        opaque = not tabs
        if opaque:
            tabs = _source_tables(fn, qs)
        out[name] = {"tables": tabs, "opaque": opaque,
                     "class": "scaled" if set(tabs) & SCALED_TABLES
                     else "dim-bound"}
    return out


def main(argv: list[str]) -> None:
    from __spark_entry__ import queries

    from research_index_backend_spark.session import get_spark
    from tools.bench_compare import compare, load

    out_md, base_path, probe_paths = argv[0], argv[1], argv[2:]
    base = load(base_path)
    # one column per probe record: "{ratio}x ({seconds}s)" per timed row
    probes = {f"{p['sf'] / base['sf']:g}x":
              {n: f"{round(r, 1)}x ({t}s)" for n, _, t, r, _ in compare(base, p)}
              for p in map(load, probe_paths)}

    spark = get_spark()
    qs = queries()
    info = classify(spark, qs, "/root/testdata/sf0.01")

    rows = []
    for name in sorted(qs):
        cls, tabs = info[name]["class"], info[name]["tables"]
        note = "checkpoint-opaque; tables from source" \
            if info[name]["opaque"] else ""
        if cls == "dim-bound":
            note = "inputs unscaled by gen_10x; ratio flat by construction"
        rows.append((name, cls, ",".join(tabs),
                     *(col.get(name, "—") for col in probes.values()), note))

    n = {c: sum(1 for r in rows if r[1] == c) for c in ("scaled", "dim-bound")}
    missing = {col: [r[0] for r in rows if r[1] == "scaled" and r[3 + i] == "—"]
               for i, col in enumerate(probes)}

    with open(out_md, "w") as f:
        f.write(
            "# Scaling-probe ledger (regenerable via tools/probe_ledger.py)"
            "\n\nEvery catalog query, classified from its own inputs, with "
            "measured wall-clock\nratios against the sf0.1 bench record "
            f"{os.path.basename(base_path)} (c{base.get('cpus')}). Each "
            "ratio column is a\nbench.py record on a tools/gen_10x.py "
            "corpus: "
            + ", ".join(f"{col} = {os.path.basename(p)}"
                        for col, p in zip(probes, probe_paths))
            + ". Ratios are\nmin-of-2 per row; the regression gate "
            "remains the driver bench — this ledger\nis coverage, the "
            "classification is the contract.\n\n"
            f"Coverage: {len(rows)} queries = {n['scaled']} scaled + "
            f"{n['dim-bound']} dim-bound; scaled rows without a number: "
            + (", ".join(f"{len(m)} at {col}" for col, m in missing.items())
               or "no probe given")
            + ".\n\n| query | class | inputs | "
            + "".join(f"{col} | " for col in probes) + "note |\n|"
            + "---|" * (4 + len(probes)) + "\n")
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote {out_md}: {n}")
    for col, m in missing.items():
        if m:
            print(f"missing {col}:", ", ".join(m))


if __name__ == "__main__":
    main(sys.argv[1:])
