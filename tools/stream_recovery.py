"""Checkpoint-recovery parity proof for the stateful streaming
operators (r12 VERDICT next-round item 2).

The long-run harness (tools/stream_longrun.py) proves flat state in
UNINTERRUPTED sessions; nothing there proves an operator resumes
correctly from its checkpoint after a kill. This harness does, for the
four operators where a replay bug changes ANSWERS (not just
latency):

- sessionize (applyInPandasWithState, update mode — open-session
  counters must be restored, not re-zeroed);
- funnel (applyInPandasWithState, append/emit-once mode — replay must
  not re-emit a completion already committed, nor lose one in flight);
- heavy_hitters (applyInPandasWithState, update mode — the native
  item -> [count, err] map state must restore to the same counter
  table, so evictions after the kill match the uninterrupted run);
- interval join (symmetric hash join — both watermark buffers must be
  rebuilt so matches spanning the kill point still emit).

Protocol, per operator, on a deterministic file-replayed input
(N parquet files, maxFilesPerTrigger=1 -> one file per micro-batch;
the offset log fixes the boundaries of the batches a run planned, but a
restart may plan the remaining files into fewer, larger batches, so
the final answers compared below never depend on the batch split):

1. CONTROL: run start-to-finish, collecting every micro-batch's output
   through an idempotent foreachBatch parquet sink (one overwritten
   directory per batchId — replayed batches land on the same path, so
   the union is exactly-once even if the kill interrupts a commit).
2. RECOVERY: fresh checkpoint + sink, stop() the query after a few
   batches (mid-stream, state non-empty), then START A NEW QUERY from
   the same checkpointLocation and drain the rest.
3. PARITY: the recovery run's final output must equal the control
   run's — exact rows for the append operators, last-emission-per-key
   for update-mode sessionize (which is additionally compared against
   the batch twin), and the final counter table (max seq per key) for
   update-mode heavy_hitters.

Usage:  python tools/stream_recovery.py [out_json]
Writes BENCH_STREAM_RECOVERY.json with per-operator batch counts and
parity results. Import `run_recovery` from tests for the small CI
variant (tests/test_stream_recovery.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("ts_sec", LongType()),
])

OPS = ("sessionize", "funnel", "interval_join", "heavy_hitters")


def gen_events(spark, src: str, n_files: int = 10,
               rows_per_file: int = 600, n_users: int = 24) -> None:
    """Deterministic, globally time-ordered event files (the in-order
    arrival contract sessionize/funnel document). Per user the i-th
    event is signup at i=0, then a view/view/purchase cycle — every
    user completes the funnel and produces view->purchase matches
    inside the join interval."""
    total = n_files * rows_per_file
    rows = []
    per_user_seq = [0] * n_users
    base = 1_700_000_000
    for i in range(total):
        u = i % n_users
        e = per_user_seq[u]
        per_user_seq[u] += 1
        if e == 0:
            et = "signup"
        elif e % 3 == 0:
            et = "purchase"
        else:
            et = "view"
        rows.append((i, u, et, base + i * 5))  # 5s apart, in order
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    for f in range(n_files):
        (df.filter((F.col("event_id") >= f * rows_per_file)
                   & (F.col("event_id") < (f + 1) * rows_per_file))
         .coalesce(1).write.mode("append").parquet(src))


def build_stream(spark, op: str, src: str):
    from research_index_backend_spark.streaming.joins import (
        views_to_purchases_stream,
    )
    from research_index_backend_spark.streaming.sessionize import (
        sessionize_stream,
    )
    from research_index_backend_spark.streaming.stateful import (
        heavy_hitters_stream,
        streaming_funnel,
    )
    raw = (spark.readStream.schema(EVENT_SCHEMA)
           .option("maxFilesPerTrigger", "1").parquet(src))
    if op == "sessionize":
        ev = raw.select("event_id", "user_id",
                        (F.col("ts_sec") * F.lit(10**9)).alias("ts_ns"))
        return sessionize_stream(ev), "update"
    if op == "funnel":
        ev = raw.select("user_id", "event_type",
                        (F.col("ts_sec") * F.lit(10**6)).alias("ts_us"))
        return streaming_funnel(ev), "append"
    ev = raw.select("event_id", "user_id", "event_type",
                    F.timestamp_seconds("ts_sec").alias("ts"))
    if op == "interval_join":
        return views_to_purchases_stream(ev, interval="1 hour"), "append"
    if op == "heavy_hitters":
        return heavy_hitters_stream(ev), "update"
    raise SystemExit(f"unknown operator {op!r}; known: {OPS}")


def _sink(out: str):
    """Idempotent per-batch parquet sink: batch N always lands on
    out/b{N} with overwrite, so a replayed batch after recovery
    overwrites its own partial output instead of duplicating it."""
    def write(df, batch_id: int) -> None:
        (df.withColumn("__batch", F.lit(int(batch_id)))
         .write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id:05d}")))
    return write


def _start(spark, op: str, src: str, out: str, cp: str):
    df, mode = build_stream(spark, op, src)
    return (df.writeStream.foreachBatch(_sink(out))
            .outputMode(mode)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start())


def _drain(q, timeout: float = 600.0) -> None:
    if not q.awaitTermination(timeout):
        q.stop()
        raise SystemExit("stream did not drain before timeout")


def _stop_after(q, n_batches: int, timeout: float = 600.0) -> None:
    """Stop the query once it has committed >= n_batches micro-batches
    (mid-run by construction — callers pick n far below the file
    count)."""
    deadline = time.time() + timeout
    while q.isActive and time.time() < deadline:
        lp = q.lastProgress
        if lp is not None and lp["batchId"] + 1 >= n_batches:
            q.stop()
            break
        time.sleep(0.05)
    q.awaitTermination(60)


def _batches_on_disk(out: str) -> list[str]:
    if not os.path.isdir(out):
        return []
    return sorted(d for d in os.listdir(out) if d.startswith("b"))


def _read_all(spark, out: str):
    return spark.read.parquet(os.path.join(out, "b*"))


def final_rows(spark, op: str, out: str) -> list[tuple]:
    """The run's final answer. Append ops: the union of all batches.
    Update-mode sessionize: last emission per (user_id, session_id) —
    max (__batch, seq) — the documented consumer contract. Update-mode
    heavy_hitters: each event_type's max-seq emission, the whole
    counter table (earlier emissions may hold items since evicted),
    without seq: a restart may re-plan the remaining files into other
    micro-batches, which changes how many emissions a key made but not
    its final counters."""
    from pyspark.sql import Window
    df = _read_all(spark, out)
    if op == "sessionize":
        w = Window.partitionBy("user_id", "session_id").orderBy(
            F.col("__batch").desc(), F.col("seq").desc())
        df = (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .select("user_id", "session_id", "n_events"))
        return sorted(tuple(r) for r in df.collect())
    if op == "heavy_hitters":
        df = (df.withColumn("__last", F.max("seq").over(
                  Window.partitionBy("event_type")))
              .filter(F.col("seq") == F.col("__last"))
              .select("event_type", "item", "est_count", "max_err"))
        return sorted(tuple(r) for r in df.collect())
    return sorted(tuple(r) for r in df.drop("__batch").collect())


def run_recovery(spark, op: str, workdir: str, src: str,
                 stop_after: int = 3) -> dict:
    """Control vs kill-and-resume runs of one operator; returns the
    parity report dict (raises via assert on any mismatch)."""
    ctl_out = os.path.join(workdir, op, "control_out")
    ctl_cp = os.path.join(workdir, op, "control_cp")
    rec_out = os.path.join(workdir, op, "recovery_out")
    rec_cp = os.path.join(workdir, op, "recovery_cp")

    _drain(_start(spark, op, src, ctl_out, ctl_cp))
    control = final_rows(spark, op, ctl_out)
    n_ctl = len(_batches_on_disk(ctl_out))

    _stop_after(_start(spark, op, src, rec_out, rec_cp), stop_after)
    n_phase1 = len(_batches_on_disk(rec_out))
    _drain(_start(spark, op, src, rec_out, rec_cp))
    recovered = final_rows(spark, op, rec_out)
    n_total = len(_batches_on_disk(rec_out))

    interrupted_mid_run = 0 < n_phase1 < n_ctl
    resumed = n_total > n_phase1
    parity = recovered == control
    assert interrupted_mid_run, \
        f"{op}: phase 1 ran {n_phase1}/{n_ctl} batches — not mid-run"
    assert resumed, f"{op}: restart processed no further batches"
    assert parity, (
        f"{op}: recovery output != control "
        f"({len(recovered)} vs {len(control)} rows)")
    # append ops double as an exactly-once check: emit-once semantics
    # mean no duplicate rows may survive the replayed batch
    if op in ("funnel", "interval_join"):
        assert len(recovered) == len(set(recovered)), \
            f"{op}: duplicate emissions after recovery"
    return {"op": op, "parity": parity, "rows": len(control),
            "control_batches": n_ctl, "phase1_batches": n_phase1,
            "recovery_batches_total": n_total}


def main() -> None:
    import shutil
    import tempfile

    from research_index_backend_spark.session import get_spark

    out_json = sys.argv[1] if len(sys.argv) > 1 else \
        "BENCH_STREAM_RECOVERY.json"
    spark = get_spark()
    work = tempfile.mkdtemp(prefix="stream_recovery_")
    try:
        src = os.path.join(work, "events_src")
        t0 = time.time()
        gen_events(spark, src)
        results = {}
        for op in OPS:
            r = run_recovery(spark, op, work, src)
            results[op] = r
            print(f"{op}: parity OK — {r['rows']} rows, control "
                  f"{r['control_batches']} batches, killed after "
                  f"{r['phase1_batches']}, resumed to "
                  f"{r['recovery_batches_total']}")
        report = {"metric": "stream_recovery_parity",
                  "wall_sec": round(time.time() - t0, 2),
                  "operators": results}
        with open(out_json, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {out_json}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
