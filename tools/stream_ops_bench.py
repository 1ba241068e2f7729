"""Throughput bench for the stateful streaming operators
(applyInPandasWithState family): drive sessionize_stream and
topk_monitor_stream over the sf0.1 events table as real file-source
Structured Streaming runs (N micro-batches) and report events/sec.

Complements tools/stream_bench.py (the foreachBatch MERGE ingest
loop); this measures the keyed-state operators themselves.

Usage: python tools/stream_ops_bench.py [n_batches]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(n_batches: int = 8) -> None:
    from pyspark.sql import functions as F

    from research_index_backend_spark.plans.queries import _t
    from research_index_backend_spark.session import get_spark
    from research_index_backend_spark.streaming.sessionize import (
        sessionize_stream,
    )
    from research_index_backend_spark.streaming.topk import (
        topk_monitor_stream,
    )

    spark = get_spark()
    e = _t(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts_ns",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_e2"))
    n_rows = e.count()
    src = f"/tmp/stream_ops_bench_src_{n_batches}"
    if not os.path.exists(src):
        # time-ordered part files -> in-order micro-batches (the
        # ordered-replay contract the gap sessionizer documents)
        e.orderBy("ts_ns", "event_id") \
            .withColumn("b", F.ntile(n_batches).over(
                __import__("pyspark.sql.window",
                           fromlist=["Window"]).Window
                .orderBy("ts_ns", "event_id"))) \
            .repartition(1).write.mode("overwrite") \
            .partitionBy("b").parquet(src)

    def drive(name: str, build):
        stream = (spark.readStream
                  .schema(e.schema.add("b", "integer"))
                  .option("maxFilesPerTrigger", "1").parquet(src))
        t0 = time.perf_counter()
        q = (build(stream)
             .writeStream.format("noop")
             .option("checkpointLocation",
                     f"/tmp/stream_ops_ckpt_{name}_{time.time_ns()}")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(600)
        dt = time.perf_counter() - t0
        print(f"{name}: {n_rows} events / {dt:.1f}s "
              f"= {n_rows / dt:,.0f} events/sec "
              f"({n_batches} micro-batches)", flush=True)

    drive("sessionize", sessionize_stream)
    drive("topk", lambda s: topk_monitor_stream(s))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 8)
