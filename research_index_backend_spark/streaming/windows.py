"""Streaming twins of the batch window queries + the foreachBatch upsert.

The reference is a batch CLI — its only incremental machinery is the
idempotent re-run (existence probe + skip, reference
src/research_index_backend/doi.py:151-191, create_graph_from_doi.py:219-224).
This module is the capability extension (SURVEY.md §2.9): the same
semantics as the batch queries in plans/queries.py expressed over
``readStream``, plus the ingest loop as a ``foreachBatch`` upsert — each
micro-batch MERGEs into the target exactly like a reference re-run.

Scale notes:
- Watermarks bound state: a 1-hour watermark means window state older than
  (max event time - 1h) is evicted — without it, windowed state grows
  unboundedly.
- ``session_window`` is the built-in gap-based sessionization (same 30-min
  gap semantics as the batch lag+cumsum twin, q_sessionize_events).
- foreachBatch gives the batch writer (and its anti-join upsert) a
  micro-batch at a time; idempotence comes from the keyed MERGE, so
  at-least-once delivery is safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Schema of the events stream AFTER the nanos conversion (the parquet
# testdata carries int64 nanos under nanosAsLong — streaming sources get
# the already-converted shape).
EVENT_STREAM_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("ts", TimestampType()),
    StructField("props", StringType()),
])


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a directory of event parquet/json files."""
    return (
        spark.readStream
        .schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


# The tick-shaped stream (events carrying a numeric value) for the OHLC
# downsampler.
PRICED_EVENT_STREAM_SCHEMA = StructType(
    EVENT_STREAM_SCHEMA.fields[:] + [StructField("value", DoubleType())])


def read_priced_events_stream(spark: SparkSession, path: str,
                              max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream
        .schema(PRICED_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def ohlc_bars_stream(events: DataFrame,
                     width: str = "1 hour",
                     watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_ohlc_downsample: hourly OHLC bars per
    event_type, maintained incrementally.

    The batch query picks open/close positionally (row_number asc/
    desc) — a sort is meaningless under incremental arrival, so the
    streaming formulation uses min_by/max_by over the (ts, event_id)
    total order instead: same answer (first/last tick by the same
    tie-broken key), but expressed as an ASSOCIATIVE aggregate the
    state store can merge per micro-batch. State per open bar is five
    int64s + the argmin/argmax keys; the watermark closes bars and
    evicts them.
    """
    key = F.struct("ts", "event_id")
    return (
        events.withColumn(
            "value_c", F.round(F.col("value") * 100).cast("bigint"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.min_by("value_c", key).alias("open_c"),
             F.max("value_c").alias("high_c"),
             F.min("value_c").alias("low_c"),
             F.max_by("value_c", key).alias("close_c"),
             F.count(F.lit(1)).alias("volume"))
        .select(F.col("w.start").alias("bar_start"), "event_type",
                "open_c", "high_c", "low_c", "close_c", "volume")
    )


def tumbling_counts_stream(events: DataFrame,
                           width: str = "1 hour",
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_windowed_events: per-window, per-type counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events")
    )


def sliding_counts_stream(events: DataFrame,
                          width: str = "1 hour",
                          slide: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_sliding_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def sessionized_stream(events: DataFrame,
                       gap: str = "30 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_sessionize_events via the built-in
    session_window (gap-based, merges windows as events arrive)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                "n_events")
    )


def foreach_batch_upsert(stream: DataFrame, target_path: str,
                         keys: list[str], checkpoint: str,
                         n_buckets: int = 64):
    """The reference's idempotent ingest loop as Structured Streaming:
    every micro-batch MERGEs into the Parquet target by key.

    The sink is partition-pruned and bucketed
    (operators.upsert.upsert_parquet_bucketed): the target is
    hash-partitioned into n_buckets key buckets and a micro-batch rewrites
    only the buckets it touches — O(touched/total * table) I/O per batch
    instead of the full-table rewrite a continuous sink can't afford.

    Returns the started StreamingQuery; callers own awaitTermination/stop.
    """
    from ..operators.upsert import upsert_parquet_bucketed

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet_bucketed(batch_df.sparkSession, batch_df,
                                target_path, keys, n_buckets=n_buckets)

    return (
        stream.writeStream
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
