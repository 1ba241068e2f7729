"""Streaming ingest e2e bench (round-7 ADVICE item 7): drive the
foreachBatch keyed-MERGE upsert loop over the sf0.1 events stream as a
real file-source Structured Streaming run — N consecutive micro-batches
into one Parquet target — and report events/sec plus the post-hoc MERGE
invariant (target rows == distinct keys ever streamed).

Setup (untimed): the sf0.1 events table (int64-nanos ts) converts to the
stream schema's TimestampType and lands as N part files; with
maxFilesPerTrigger=1 each file becomes one micro-batch, so every batch
after the first exercises merge-against-existing-target. A second pass
re-streams a 20%% slice through a fresh checkpoint to prove at-least-once
replay keeps the table exactly deduped under consecutive batches.

Usage:
    python tools/stream_bench.py [n_batches] [n_buckets]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 ...
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from research_index_backend_spark.session import get_spark
    from research_index_backend_spark.streaming.windows import (
        foreach_batch_upsert,
        read_events_stream,
    )

    spark = get_spark()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    work = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(work, "src")
    src2 = os.path.join(work, "src_replay")
    target = os.path.join(work, "events_tbl")
    try:
        raw = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        # events.parquet is TIMESTAMP(NANOS): int64 nanos under
        # nanosAsLong, TIMESTAMP_NTZ otherwise — normalize either to the
        # stream schema's TimestampType
        if dict(raw.dtypes)["ts"] == "bigint":
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts = F.col("ts").cast("timestamp")
        ev = raw.select("event_id", "user_id", "event_type",
                        ts.alias("ts"), "props")
        ev.repartition(n_batches).write.parquet(src)
        # 20% slice for the replay pass (overlaps the first stream fully)
        ev.filter(F.col("event_id") % 5 == 0).repartition(
            max(2, n_batches // 5)).write.parquet(src2)
        n_rows = spark.read.parquet(src).count()

        t0 = time.time()
        q = foreach_batch_upsert(
            read_events_stream(spark, src, max_files_per_trigger=1),
            target, ["event_id"], os.path.join(work, "ck1"),
            n_buckets=n_buckets)
        q.awaitTermination()
        elapsed = time.time() - t0
        batches = q.lastProgress["batchId"] + 1 if q.lastProgress else -1

        got = spark.read.parquet(target).count()
        distinct = (spark.read.parquet(src)
                    .select("event_id").distinct().count())
        assert got == distinct, f"MERGE invariant broken: {got} != {distinct}"

        t1 = time.time()
        q2 = foreach_batch_upsert(
            read_events_stream(spark, src2, max_files_per_trigger=1),
            target, ["event_id"], os.path.join(work, "ck2"),
            n_buckets=n_buckets)
        q2.awaitTermination()
        replay_s = time.time() - t1
        got2 = spark.read.parquet(target).count()
        assert got2 == distinct, \
            f"replay broke dedup: {got2} != {distinct}"

        print(json.dumps({
            "metric": "stream_ingest_events_per_sec",
            "value": round(n_rows / elapsed, 1),
            "unit": "events/sec",
            "rows": n_rows,
            "micro_batches": batches,
            "n_buckets": n_buckets,
            "ingest_sec": round(elapsed, 1),
            "replay_sec": round(replay_s, 1),
            "merge_invariant": "target==distinct keys after both passes",
            "sf_dir": SF_DIR,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
