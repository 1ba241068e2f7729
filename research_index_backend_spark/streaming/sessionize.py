"""Streaming gap-based sessionization on the keyed-state operator.

The batch catalog sessionizes with lag + cumulative sum
(sessionize_events); a live pipeline needs the same 30-minute-gap
semantics as data flows: per user, carry (last event time, current
session index, current session size) across micro-batches, CLOSE a
session the moment a gap exceeds the threshold, and keep the open
session's running count current.

Design (oracle-free operator — batch parity pins it):
- State per user is three ints — bounded no matter how long the
  stream runs (closed sessions leave state the moment they close).
- Each micro-batch emits (a) every session CLOSED in that batch with
  its final count and (b) the currently-open session's running
  count; consumers (and the parity test) read the LAST emission per
  (user, session_id) — max seq — which equals the batch twin.
- Sequential-by-construction: rows fold in (ts_ns, event_id) order
  inside each batch and state carries across batches, so the final
  per-session counts are identical under ANY micro-batch split of
  an in-order stream (the drift/topk monitor contract: file-source
  batches arrive time-ordered; real out-of-order arrival needs the
  watermarked session_window operator in streaming/windows.py —
  this op is the exact-gap twin for ordered replay/backfill).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from .stateful import keyed_state

GAP_NS = 1800 * 10**9   # 30 minutes

SESSION_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("seq", LongType()),
    StructField("session_id", LongType()),
    StructField("n_events", LongType()),
])

SESSION_STATE_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("last_ns", LongType()),
    StructField("session_id", LongType()),
    StructField("cur_n", LongType()),
])


def _session_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    seq, last_ns, session_id, cur_n = state
    closed: list[tuple[int, int]] = []
    for ts in pdf["ts_ns"].astype(int):
        if last_ns < 0:
            session_id, cur_n = 1, 1
        elif ts - last_ns > GAP_NS:
            closed.append((session_id, cur_n))
            session_id += 1
            cur_n = 1
        else:
            cur_n += 1
        last_ns = ts
    seq += 1
    rows = closed + ([(session_id, cur_n)] if session_id > 0 else [])
    return (seq, last_ns, session_id, cur_n), pd.DataFrame({
        "user_id": [key[0]] * len(rows),
        "seq": [seq] * len(rows),
        "session_id": [s for s, _ in rows],
        "n_events": [n for _, n in rows]})


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming 30-minute-gap sessionization. Expects columns
    user_id, ts_ns, event_id; emits closed sessions (final counts)
    plus the open session's running count each micro-batch."""
    return keyed_state(events, "user_id", _session_step,
                       SESSION_STATE_SCHEMA, SESSION_OUTPUT_SCHEMA,
                       (0, -1, 0, 0), "update", order=["ts_ns", "event_id"])


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin of sessionize_stream's final per-session counts:
    the catalog's lag + cumulative-sum construction (sessionize_events
    shape), session ids numbered from 1 in (ts_ns, event_id) order."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap = F.col("ts_ns") - F.lag("ts_ns").over(w)
    e = events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > F.lit(GAP_NS)), 1).otherwise(0))
    e = e.withColumn("session_id",
                     F.sum("is_new").over(
                         w.rowsBetween(Window.unboundedPreceding, 0)))
    return (e.groupBy("user_id",
                      F.col("session_id").cast("long")
                      .alias("session_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_events")))
