"""Streaming per-key top-K heavy hitters on the keyed-state operator.

cms_heavy_hitters answers "what dominated" approximately over a static
corpus; a live pipeline wants the running EXACT top-K as data flows —
feasible precisely because values bin on a BOUNDED domain (the
ks_test_drift / drift-monitor domain argument): state per key is a
fixed |domain|/BIN_W-int vector no matter how much data passes, so
exactness costs nothing that a sketch would save.

Design (oracle-free operator — batch parity pins it, like the other
stateful ops):
- Per event_type, state holds the cumulative bin histogram (a
  bin -> count map, the drift-monitor state idiom).
- Each micro-batch folds its rows in and emits the key's current
  top-{TOPK_K} bins by (count DESC, bin ASC) — the deterministic
  tie-break every catalog top-k uses — plus the running total.
- Counts are order-insensitive sums, so the FINAL emission (max seq
  per key) is identical under ANY micro-batch split of the stream;
  the parity test pins it against a plain DataFrame twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .stateful import keyed_state

TOPK_K = 3        # emitted heavy hitters per key
BIN_W = 4096      # cents per bin — domain-bounded state vector

TOPK_OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("seq", LongType()),
    StructField("rank", LongType()),
    StructField("bin", LongType()),
    StructField("cnt", LongType()),
    StructField("n_total", LongType()),
])

# state: emission seq, cumulative histogram (bin -> count)
TOPK_STATE_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("hist", MapType(LongType(), LongType())),
])


def _topk_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    seq, hist = state
    hist = dict(hist)
    # Match the batch twin's Spark `div` (truncation toward ZERO),
    # not pandas floor division: start from floor, then bump the
    # inexact negative quotients up by one. Integer-exact for any
    # int64 v_e2, so stream/batch parity holds even if the value
    # domain ever goes negative (generated data is >= 0 today).
    v = pdf["v_e2"].astype("int64")
    q = v // BIN_W
    q = q + ((v < 0) & (v % BIN_W != 0)).astype("int64")
    for b, c in q.value_counts().items():
        hist[int(b)] = hist.get(int(b), 0) + int(c)
    seq += 1
    n_total = sum(hist.values())
    top = sorted(hist.items(), key=lambda bc: (-bc[1], bc[0]))[:TOPK_K]
    return (seq, hist), pd.DataFrame({
        "event_type": [key[0]] * len(top),
        "seq": [seq] * len(top),
        "rank": list(range(1, len(top) + 1)),
        "bin": [b for b, _ in top],
        "cnt": [c for _, c in top],
        "n_total": [n_total] * len(top)})


def topk_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming exact top-{TOPK_K} value bins per event_type.
    Expects columns event_type, v_e2 (value cents); emits the
    cumulative top bins each micro-batch. State is one domain-bounded
    histogram per key.
    """
    return keyed_state(events, "event_type", _topk_step, TOPK_STATE_SCHEMA,
                       TOPK_OUTPUT_SCHEMA, (0, {}), "update")


def topk_monitor_batch(events: DataFrame) -> DataFrame:
    """Batch twin of topk_monitor_stream's FINAL emission: one
    combinable (type, bin) count, per-type totals, rank by
    (count DESC, bin ASC), keep {TOPK_K} — pure DataFrame ops.

    Scale shape: the rank window partitions by event_type over the
    domain-bounded BIN table (|domain|/BIN_W rows per type), never
    corpus rows.
    """
    from pyspark.sql import Window
    h = (events.withColumn("bin", F.expr(f"v_e2 div {BIN_W}"))
         .groupBy("event_type", "bin")
         .agg(F.count(F.lit(1)).alias("cnt")))
    n = h.groupBy("event_type").agg(F.sum("cnt").alias("n_total"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("bin"))
    return (h.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK_K)
            .join(n, "event_type")
            .select("event_type",
                    F.col("rank").cast("long"),
                    F.col("bin").cast("long"),
                    F.col("cnt").cast("long"),
                    F.col("n_total").cast("long")))
