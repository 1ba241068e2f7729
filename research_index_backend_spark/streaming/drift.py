"""Streaming distribution-drift monitor on the keyed-state operator.

The batch catalog's drift statistics (ks_test_drift, mannwhitney_auc,
distribution_drift) answer "did the distribution move" over a static
corpus; production pipelines need the STREAMING twin: per key, freeze a
reference window from the head of the stream, then score every later
value against it as data flows — the monitor that pages someone when a
collector breaks.

Design (oracle-free operator — batch parity pins it, like the other
stateful ops):
- Per event_type, the state holds (a) a reference histogram built from
  the first REF_N values in (ts, event_id) stream order — filled
  across micro-batches until complete — and (b) the cumulative
  post-reference histogram.
- Values bin on the bounded cents domain (v_e2 div BIN_W — the
  ks_test_drift domain argument: the bin table is domain-sized, never
  corpus-sized), so state is a fixed ~|domain|/BIN_W-int vector per
  key no matter how much data flows past.
- Each micro-batch emits the key's CUMULATIVE total-variation distance
  tv_e6 = (1e6 * sum_b |c_b*n_ref - r_b*n_cur|) div (2*n_ref*n_cur) —
  integer-exact cross-multiplied form (no per-bin float shares), the
  same arithmetic family as the batch KS/MW statistics.
- Sequential-by-construction: rows process in (ts, event_id) total
  order inside each batch and the histograms carry across batches, so
  the FINAL emission (max seq per key) is identical under ANY
  micro-batch split of the same stream — the batch-parity test pins
  the final emission against a batch-engine twin computed with plain
  DataFrame ops.
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

REF_N = 200       # reference window size (values)
BIN_W = 4096      # cents per bin — domain-bounded bin table

DRIFT_OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("seq", LongType()),
    StructField("n_ref", LongType()),
    StructField("n_cur", LongType()),
    StructField("tv_e6", LongType()),
])

# state: emission seq, reference histogram, cumulative current histogram
# (bin -> count)
DRIFT_STATE_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("ref", MapType(LongType(), LongType())),
    StructField("cur", MapType(LongType(), LongType())),
])


def _tv_e6(ref: dict[int, int], cur: dict[int, int]) -> tuple[int, int, int]:
    n_ref = sum(ref.values())
    n_cur = sum(cur.values())
    if n_ref == 0 or n_cur == 0:
        return n_ref, n_cur, 0
    num = sum(abs(ref.get(b, 0) * n_cur - cur.get(b, 0) * n_ref)
              for b in set(ref) | set(cur))
    return n_ref, n_cur, (1000000 * num) // (2 * n_ref * n_cur)


def _drift_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    seq, ref, cur = state
    ref, cur = dict(ref), dict(cur)
    bins = (pdf["v_e2"].astype(int) // BIN_W).to_numpy()
    take = max(0, REF_N - sum(ref.values()))
    for b in bins[:take]:
        ref[int(b)] = ref.get(int(b), 0) + 1
    for b in bins[take:]:
        cur[int(b)] = cur.get(int(b), 0) + 1
    seq += 1
    n_ref, n_cur, tv = _tv_e6(ref, cur)
    return (seq, ref, cur), pd.DataFrame({
        "event_type": [key[0]],
        "seq": [seq],
        "n_ref": [n_ref],
        "n_cur": [n_cur],
        "tv_e6": [tv]})


def drift_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming reference-vs-now drift: per event_type, the first
    {REF_N} values (in (ts, event_id) stream order) freeze as the
    reference histogram; every micro-batch then emits the cumulative
    total-variation distance of all post-reference values against it.
    State is a fixed domain-bounded bin vector per key.

    Expects columns event_type, v_e2 (value cents), ts, event_id.
    """
    return keyed_state(events, "event_type", _drift_step,
                       DRIFT_STATE_SCHEMA, DRIFT_OUTPUT_SCHEMA,
                       (0, {}, {}), "update", order=["ts", "event_id"])


def drift_monitor_batch(events: DataFrame) -> DataFrame:
    """Batch twin of drift_monitor_stream's FINAL emission: same
    reference split ((ts, event_id) order, first {REF_N} per type),
    same bins, same cross-multiplied tv_e6 — pure DataFrame ops, used
    by the parity test.

    The reference split does NOT rank the whole corpus: a per-type
    full-sort window caps parallelism at |types| and measured 36s at
    the 100x probe. Instead the {REF_N}-th (ts, event_id) per type is
    found salted-two-stage (per-(type, salt) partial top-{REF_N}, then
    a window over the <= {REF_N}*n_salts survivors) and broadcast back
    as a threshold — rows at or below it are the reference, exactly
    the first min({REF_N}, n) rows of the (ts, event_id) total order.
    """
    from pyspark.sql import Window
    key = F.struct(F.col("ts"), F.col("event_id"))
    w1 = Window.partitionBy("event_type", "__salt").orderBy(
        "ts", "event_id")
    w2 = Window.partitionBy("event_type").orderBy("ts", "event_id")
    th = (events
          .withColumn("__salt", F.pmod(F.hash("event_id"), F.lit(32)))
          .withColumn("r1", F.row_number().over(w1))
          .filter(F.col("r1") <= REF_N)
          .withColumn("r2", F.row_number().over(w2))
          .filter(F.col("r2") <= REF_N)
          .groupBy("event_type")
          .agg(F.max(key).alias("th")))
    binned = (events.join(F.broadcast(th), "event_type")
              .withColumn("bin", F.expr(f"v_e2 div {BIN_W}"))
              .withColumn("side", F.when(key <= F.col("th"), "ref")
                          .otherwise(F.lit("cur"))))
    h = (binned.groupBy("event_type", "bin")
         .agg(F.sum(F.when(F.col("side") == "ref", 1).otherwise(0))
              .alias("r"),
              F.sum(F.when(F.col("side") == "cur", 1).otherwise(0))
              .alias("c")))
    n = (h.groupBy("event_type")
         .agg(F.sum("r").alias("n_ref"), F.sum("c").alias("n_cur")))
    return (h.join(n, "event_type")
            .groupBy("event_type")
            .agg(F.first("n_ref").alias("n_ref"),
                 F.first("n_cur").alias("n_cur"),
                 F.sum(F.expr("abs(r * n_cur - c * n_ref)")).alias("num"))
            .select("event_type",
                    F.col("n_ref").cast("long"),
                    F.col("n_cur").cast("long"),
                    F.when(
                        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                        F.expr("(1000000 * num)"
                               " div (2 * n_ref * n_cur)"))
                    .otherwise(F.lit(0)).cast("long").alias("tv_e6")))
