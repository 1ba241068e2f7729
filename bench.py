"""Benchmark driver, the one loop that times catalog queries: time
queries() entries at $SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus,
SF_DIR below) and print ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1, ...}

Usage:
    python bench.py                # the whole catalog
    python bench.py name [...]     # only these rows, merged into the record

The full record is written alongside this script to record_path():
BENCH_FULL_c{cpus}.json at sf0.1, BENCH_FULL_sf{sf}_c{cpus}.json
otherwise, so a run on one core count never overwrites another's
record. A run with names times only those rows; the record's other rows
stay and its total is recomputed over the merged rows. The stdout line
summarizes the written record.

Scaling probes are bench runs on another corpus or core count:
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py [name ...]   # 10x, from
        # tools/gen_10x.py; writes BENCH_FULL_sf1.0_c{cpus}.json
    SPARK_GRAFT_CPUS=2 python bench.py [name ...]            # core scaling
and tools/bench_compare.py prints the per-row ratios of two records.

The stdout line is kept under 1900 characters (the recording harness
retains only the last 2000 chars of stdout): queries are listed slowest
first and the fastest entries are dropped once the line would overflow,
with the dropped remainder summarized in queries_omitted/omitted_sec.

Each query executes fully through the noop sink (format("noop")) — the
whole plan runs, nothing is collected to the driver, so timings measure
the engine, not Arrow transfer. Each timed run has its own Spark job
group; the record's `layers` hold, for the run that was kept, `build_s`
(the plan call, with its eager localCheckpoint/collect jobs), `exec_s`
(the noop write) and the run's jobs, stages and tasks. `floor_s` is the
median of 7 one-row noop jobs, the per-job floor the rows are read
against.

Noise control: the rows run in two passes, every row once and then
every row again, and the per-query MIN is kept. First-touch codegen
compilation and shared-CPU scheduling noise routinely inflate a single
cold timing 2x (measured: dedup_survivors 8.1s cold vs 3.2s warm on an
idle box); min-of-two reports the engine's steady-state capability while
still timing every query end to end. Passes, not back-to-back repeats:
a row repeated at once reuses what its first run just compiled and
cached, which reads the sub-second rows low.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Bench-only split sizing (see queries._ensure_conf): small files must
# still fan out across cores at test SF. Production sessions never set
# this, so they keep Spark's 128m default.
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", d)
    return float(m.group(1)) if m else -1.0


def record_path(sf: float, cpus: int | str) -> str:
    """Full-record file for a bench at scale factor `sf` on `cpus` cores."""
    name = (f"BENCH_FULL_c{cpus}.json" if sf == 0.1
            else f"BENCH_FULL_sf{sf}_c{cpus}.json")
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


def merge(prev: dict, full: dict, catalog) -> dict:
    """`full` (this run's record) plus the rows of `prev`, the record
    already at the same path, that this run did not time. Rows no longer
    in `catalog` drop out; the total is recomputed over the merged rows."""
    if prev.get("sf") == full["sf"]:
        timed = set(full["queries"])
        for key in ("queries", "layers"):
            kept = {n: v for n, v in prev.get(key, {}).items()
                    if n in catalog and n not in timed}
            full[key] = {**kept, **full[key]}
    full["value"] = round(
        sum(t for t in full["queries"].values() if t >= 0), 3)
    return full


def main(names: list[str]) -> int:
    from __spark_entry__ import queries
    from research_index_backend_spark.session import get_spark

    spark = get_spark()
    sc = spark.sparkContext
    status = sc.statusTracker()
    # The record is named and tagged by the live session's core count. A
    # reused session on another count must not file its run under the
    # count the environment asked for.
    cpus = sc.defaultParallelism
    asked = os.environ.get("SPARK_GRAFT_CPUS")
    if asked and int(asked) != cpus:
        print(f"bench: session runs local[{cpus}] but SPARK_GRAFT_CPUS="
              f"{asked}; no record written", file=sys.stderr)
        return 2
    qs = queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"bench: not in the catalog: {unknown}", file=sys.stderr)
        return 2
    names = names or list(qs)
    sf = _sf_from_dir(SF_DIR)
    full_path = record_path(sf, cpus)
    runs = itertools.count(1)

    def run(name: str) -> dict:
        group = f"bench-{next(runs)}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        r = {"t": round(t2 - t0, 3), "build_s": round(t1 - t0, 3),
             "jobs": 0, "stages": 0, "tasks": 0}
        r["exec_s"] = round(r["t"] - r["build_s"], 3)
        for j in status.getJobIdsForGroup(group):
            r["jobs"] += 1
            info = status.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = status.getStageInfo(sid)
                if st is not None and st.numTasks:
                    r["stages"] += 1
                    r["tasks"] += st.numTasks
        return r

    # warmup: JVM + codegen + parquet footer reads. The flagship query
    # alone left ~1s of fixed spin-up on whichever queries ran first
    # (r11 driver bench: seven sub-1.5s head-of-catalog queries read
    # >=2x their warm records purely from session startup), so also
    # (a) count every base table — footer decode + scan-path codegen —
    # and (b) run one trivial Arrow round trip to fork the Python
    # worker pool before the first timed query.
    try:
        run("flagship_contains_tag")
    except Exception:
        pass
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()
        except Exception:
            pass
    try:  # Python/Arrow worker spin-up (mapInPandas fork + serde path)
        import pandas as _pd  # noqa: F401
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode(
            "overwrite").save()
    except Exception:
        pass

    floor = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor.append(time.perf_counter() - t0)

    best: dict[str, dict] = {}

    def time_rows(rows) -> None:
        for name in rows:
            try:
                r = run(name)
                if name not in best or r["t"] < best[name]["t"]:
                    best[name] = r
            except Exception as exc:  # a broken query must not kill the bench
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
            # Large-corpus runs accumulate DISK_ONLY localCheckpoint
            # blocks across queries faster than the async ContextCleaner
            # frees them — a 14-query shared 100x session killed
            # graph_sssp on GCLocker retries (r12; it passes isolated).
            # Nudge py4j + JVM GC between queries, outside the timed
            # region, so the cleaner can run; this is harness hygiene,
            # not an engine requirement — production runs one query per
            # job.
            gc.collect()
            try:
                spark._jvm.System.gc()
            except Exception:
                pass

    time_rows(names)
    # Re-time every query that ran (min-of-2). First-touch codegen
    # routinely inflates a single cold timing 2-17x (measured:
    # sequence_pack 6.97s cold vs 0.41s warm).
    time_rows(list(best))

    # Third pass for NOISE SUSPECTS only: a 95-query session accumulates
    # GC/codegen-cache pressure and min-of-2 still reported bigram_topk
    # at 1.82s in r6 when its isolated steady state is 0.92s. A query is
    # suspect when its current best is >1.4x its own previous-run record
    # (this SF and core count's record from the last bench, read before
    # we overwrite it) — the one signal that catches BOTH samples being
    # inflated. Re-timing just the suspects (capped) buys min-of-3 where
    # it matters for ~1/10 the extra wall time of a full third pass.
    prev: dict = {}
    try:
        with open(full_path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        pass
    prior = {n: t for n, t in prev.get("queries", {}).items()
             if prev.get("sf") == sf and isinstance(t, (int, float)) and t > 0}
    time_rows(sorted((n for n, r in best.items()
                      if n in prior and r["t"] > 1.4 * prior[n]),
                     key=lambda n: -best[n]["t"])[:25])

    # Full per-query detail, for humans and BENCH_HISTORY.md. The sf0.1
    # record of each core count is what bench_compare/probe_ledger and
    # the noise-suspect pass read as the steady-state prior; a bench at
    # any other SF writes an sf-suffixed file so a quick sf0.001 smoke
    # run can't clobber it.
    full = merge(prev, {
        "metric": "total_query_sec", "unit": "sec", "sf": sf, "cpus": cpus,
        "queries": {n: best[n]["t"] if n in best else -1.0 for n in names},
        "layers": {n: {k: v for k, v in r.items() if k != "t"}
                   for n, r in best.items()},
        "floor_s": round(statistics.median(floor), 4),
    }, qs)
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: could not write {full_path}: {exc}", file=sys.stderr)

    # The ONE stdout JSON line. The harness that records it keeps only the
    # last 2000 characters of stdout, so the line must stay comfortably
    # under that or it truncates into unparseable JSON (observed r4/r5:
    # 71/81 queries -> >2000 chars -> parsed=null). Emit compact JSON,
    # slowest queries first, and drop the fastest entries until the line
    # fits a 1900-char budget; the dropped remainder is summarized so the
    # total still reconciles.
    timings = full["queries"]
    by_slow = sorted(timings, key=lambda n: -timings[n])

    def _line(n_keep: int) -> str:
        keep, omit = by_slow[:n_keep], by_slow[n_keep:]
        return json.dumps({
            "metric": "total_query_sec", "value": full["value"],
            "unit": "sec",
            "queries": {n: round(timings[n], 2) for n in keep},
            "sf": sf, "cpus": cpus, "n_queries": len(timings),
            "queries_omitted": len(omit),
            "omitted_sec": round(
                sum(timings[n] for n in omit if timings[n] >= 0), 2),
        }, separators=(",", ":"))

    n_keep = len(by_slow)
    while n_keep > 0 and len(_line(n_keep)) > 1900:
        n_keep -= 1
    print(_line(n_keep), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
