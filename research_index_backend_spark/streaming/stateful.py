"""Custom stateful streaming operators: one keyed-state operator and
the per-key steps that run on it.

The reference has no streaming machinery at all (SURVEY §2.9); the built-in
windows in streaming/windows.py cover tumbling/sliding/session. This module
holds the remaining Structured Streaming capability a training-data
pipeline needs: ARBITRARY keyed state the built-ins can't express.

`keyed_state` is the one applyInPandasWithState call in the package (the
Pregelix shape the graph family's superstep follows: the operator owns the
per-key state step, each algorithm supplies only its update function). It
owns three decisions:
- the call: groupBy(key) with GroupStateTimeout.NoTimeout — every key
  domain here is bounded or sketch-bounded, so state never needs expiry;
- reading state: the stored value, or `initial` for a key seen first;
- row order within a group: a key's micro-batch rows can arrive as
  several Arrow chunks in shuffle order, so they are concatenated into
  one frame and, when `order` is given, sorted ONCE. Sorting per chunk
  would interleave out of event-time order and break batch-split
  determinism.

Each operator is then a pure `step(key, state, pdf) -> (new_state, out)`:
`state` is the state tuple, `pdf` the key's rows for the micro-batch, and
`out` a frame of output rows or None. Only non-empty output is emitted.

State values are pickled through the state store in their declared types
(`valueSchema.toInternal`), so map and array fields hold native dicts and
lists of Python ints.

Scale notes:
- State is per-key (hash-partitioned by the grouping key) and lives in the
  state store; memory is bounded by (#keys in state) x (per-key state),
  and every step below keeps per-key state fixed or domain-bounded except
  the exact dedup seen-set.
- For very large seen-sets per key, swap the in-state id list for a
  Bloom filter (bounded bytes, one-sided error = rare duplicate emitted —
  downstream keyed upsert absorbs it). Noted, not needed at test scale.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

Step = Callable[[tuple, tuple, pd.DataFrame], tuple]


def keyed_state(events: DataFrame, key: str, step: Step,
                state_schema: StructType, output_schema: StructType,
                initial: tuple, mode: str,
                order: list[str] | None = None) -> DataFrame:
    """Run `step` once per key and micro-batch with that key's carried
    state: groupBy(key).applyInPandasWithState with no state timeout.

    `initial` is the state of a key seen for the first time (one object
    shared by every new key, so a step copies it before mutating);
    `mode` is the output mode ("update" or "append"); `order` sorts the
    key's micro-batch rows once before `step` sees them."""
    def fn(k: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order:
            pdf = pdf.sort_values(order)
        new_state, out = step(k, state.get if state.exists else initial,
                              pdf)
        state.update(new_state)
        if out is not None and len(out):
            yield out

    return events.groupBy(key).applyInPandasWithState(
        fn, outputStructType=output_schema, stateStructType=state_schema,
        outputMode=mode, timeoutConf=GroupStateTimeout.NoTimeout)


DEDUP_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("event_type", StringType()),
])

# state = the sorted already-seen event ids per user
DEDUP_STATE_SCHEMA = StructType([
    StructField("seen", ArrayType(LongType())),
])


def _dedup_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    (seen,) = state
    # vectorized: drop already-seen and intra-batch repeats (keep first)
    pdf = pdf[~pdf["event_id"].isin(seen)].drop_duplicates(
        subset=["event_id"], keep="first")
    seen = sorted(set(seen).union(int(x) for x in pdf["event_id"]))
    return (seen,), pdf[["user_id", "event_id", "event_type"]]


def stateful_dedup_stream(events: DataFrame) -> DataFrame:
    """First-arrival-wins dedup on event_id within each user_id, across
    micro-batches — state the built-in dropDuplicates cannot scope
    per-key. Returns the deduped event rows."""
    return keyed_state(events, "user_id", _dedup_step, DEDUP_STATE_SCHEMA,
                       DEDUP_OUTPUT_SCHEMA, ([],), "append")


def watermark_dedup_stream(events: DataFrame,
                           key_cols: tuple[str, ...] = ("user_id",
                                                        "event_id"),
                           ts_col: str = "ts",
                           watermark: str = "1 hour") -> DataFrame:
    """Native bounded-state streaming dedup: dropDuplicatesWithinWatermark.

    The keyed-state dedup above keeps state FOREVER (exact, unbounded
    keys); this is the built-in complement for the common case
    where duplicates only ever arrive within a bounded lateness window
    (at-least-once sources, retried producers): state is evicted once an
    event's timestamp falls behind the watermark, so state size is
    bounded by (keys per watermark window), not stream lifetime — the
    right default for a 100 TB/day ingest where exact forever-dedup
    belongs to the batch keyed upsert downstream.
    """
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))


# ---------------------------------------------------------------------------
# Streaming funnel: per-key ordered-step state machine
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("signup", "view", "purchase")

FUNNEL_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("t_signup", LongType()),
    StructField("t_view", LongType()),
    StructField("t_purchase", LongType()),
])

# per-step earliest micro-ts + emitted flag (0/1)
FUNNEL_STATE_SCHEMA = StructType([
    StructField("t_signup", LongType()),
    StructField("t_view", LongType()),
    StructField("t_purchase", LongType()),
    StructField("emitted", LongType()),
])


def _funnel_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    """Advance the per-user funnel state with each micro-batch; emit the
    completion row the FIRST time signup < view < purchase holds.

    Parity contract with the batch funnel (plans.queries_ext2
    q_event_funnel): per-step UNCONDITIONAL mins, strict-order check on
    top. Under event-time-ordered arrival (per key) the completion
    predicate is monotone — a min, once set, can only be matched by
    later-or-equal timestamps — so emit-once streaming output equals the
    batch result. Out-of-order arrival would need watermark-delayed
    finalization instead of emit-on-first-truth; that variant belongs in
    a window-closed foreachBatch, noted here deliberately.
    """
    mins: list[Any] = list(state)
    for i, step in enumerate(FUNNEL_STEPS):
        vals = pdf.loc[pdf["event_type"] == step, "ts_us"]
        if len(vals):
            m = int(vals.min())
            mins[i] = m if mins[i] is None else min(mins[i], m)
    done = (mins[0] is not None and mins[1] is not None
            and mins[2] is not None and mins[0] < mins[1] < mins[2])
    if not done or mins[3]:
        return tuple(mins), None
    mins[3] = 1
    return tuple(mins), pd.DataFrame([{
        "user_id": key[0], "t_signup": mins[0],
        "t_view": mins[1], "t_purchase": mins[2]}])


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch event_funnel query: emits
    (user_id, t_signup, t_view, t_purchase) once per user, the first
    micro-batch in which the ordered completion holds. Expects columns
    user_id, event_type, ts_us (micros)."""
    return keyed_state(events, "user_id", _funnel_step, FUNNEL_STATE_SCHEMA,
                       FUNNEL_OUTPUT_SCHEMA, (None, None, None, 0), "append")


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch — bounded-state rolling uniques
# ---------------------------------------------------------------------------

KMV_STREAM_K = 64
_KMV_SPACE = float(1 << 32)

KMV_OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("n_kept", LongType()),
    StructField("kmv_est", LongType()),
])

# state = the ascending k-min hashes
KMV_STATE_SCHEMA = StructType([
    StructField("mins", ArrayType(LongType())),
])


def _kmv_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    (mins,) = state
    ordered = sorted(set(mins).union(int(x) for x in pdf["h"].unique())
                     )[:KMV_STREAM_K]
    if len(ordered) < KMV_STREAM_K:
        est = len(ordered)
    else:
        est = int((KMV_STREAM_K - 1) * _KMV_SPACE // ordered[-1])
    return (ordered,), pd.DataFrame({"event_type": [key[0]],
                                     "n_kept": [len(ordered)],
                                     "kmv_est": [est]})


def kmv_distinct_stream(events: DataFrame) -> DataFrame:
    """Streaming KMV distinct-user sketch per event_type — the
    bounded-state rolling-uniques counter (the streaming twin of the
    batch kmv_distinct catalog query, same md5 hash space and same
    (k-1)*2^32/h_k estimator).

    The hash is computed JVM-side BEFORE the stateful op (F.conv over
    md5 — the Python side never hashes, it only maintains the k-min
    set), so per-key state is <= k int64s regardless of stream length:
    this is exactly why sketches exist in streaming — exact distinct
    state grows with cardinality, KMV state is constant. Emits the
    updated estimate per key each micro-batch (update mode).

    Expects columns event_type, user_id.
    """
    from pyspark.sql import functions as F

    with_hash = events.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                                1, 8), 16, 10).cast("bigint"))
    return keyed_state(with_hash, "event_type", _kmv_step, KMV_STATE_SCHEMA,
                       KMV_OUTPUT_SCHEMA, ([],), "update")


# ---------------------------------------------------------------------------
# Streaming event-transition counter — windowless LEAD via keyed state
# ---------------------------------------------------------------------------

TRANSITIONS_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("from_type", StringType()),
    StructField("next_type", StringType()),
    StructField("n", LongType()),
])

# state = the user's last-seen event type (the LEAD/LAG boundary carried
# across micro-batches)
TRANSITIONS_STATE_SCHEMA = StructType([
    StructField("last_type", StringType()),
])


def _transitions_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    (last,) = state
    counts: dict[tuple[str, str], int] = {}
    for t in pdf["event_type"]:
        if last is not None:
            counts[(last, t)] = counts.get((last, t), 0) + 1
        last = t
    return (last,), pd.DataFrame(
        {"user_id": [key[0]] * len(counts),
         "from_type": [k[0] for k in counts],
         "next_type": [k[1] for k in counts],
         "n": list(counts.values())})


def transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch markov_transitions LEAD: per-user
    (from, next) transition counts maintained incrementally — the
    batch query's window LAG/LEAD is unavailable under incremental
    arrival, so the cross-batch boundary (the user's LAST event of the
    previous micro-batch) is carried as keyed state; everything else is
    a per-batch ordered scan of that user's rows.

    State is ONE string per user regardless of stream length — the
    whole point of converting a sort-based batch op to a stateful
    streaming op. Emits per-batch transition count DELTAS (update
    mode); the downstream aggregate sums them into the matrix, which
    is how count deltas compose with ivm_update-style view
    maintenance. Expects columns user_id, event_id, event_type, ts.
    """
    return keyed_state(events, "user_id", _transitions_step,
                       TRANSITIONS_STATE_SCHEMA, TRANSITIONS_OUTPUT_SCHEMA,
                       (None,), "update", order=["ts", "event_id"])


# ---------------------------------------------------------------------------
# Streaming space-saving heavy hitters — bounded-counter top-k
# ---------------------------------------------------------------------------

HH_CAPACITY = 8   # monitored counters per key (Metwally et al. capacity m)

HH_OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("item", LongType()),
    StructField("est_count", LongType()),
    StructField("max_err", LongType()),
    # per-key emission sequence: consumers of an append-style sink keep
    # only each key's max-seq rows (earlier emissions may contain items
    # since evicted)
    StructField("seq", LongType()),
])

# state = emission counter + item -> [count, err] counters
HH_STATE_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("counters", MapType(LongType(), ArrayType(LongType()))),
])


def _hh_step(key: tuple, state: tuple, pdf: pd.DataFrame):
    seq, stored = state
    counters = {int(i): list(ce) for i, ce in stored.items()}
    for item in pdf["user_id"].astype(int):
        if item in counters:
            counters[item][0] += 1
        elif len(counters) < HH_CAPACITY:
            counters[item] = [1, 0]
        else:
            # evict the minimum counter; ties break on LARGEST item
            # id so the rule is total and engine-independent
            victim = min(counters, key=lambda i: (counters[i][0], -i))
            c = counters.pop(victim)[0]
            counters[item] = [c + 1, c]
    seq += 1
    items = sorted(counters.items(),
                   key=lambda kv: (-kv[1][0], kv[0]))
    return (seq, counters), pd.DataFrame({
        "event_type": [key[0]] * len(items),
        "item": [i for i, _ in items],
        "est_count": [c for _, (c, _) in items],
        "max_err": [e for _, (_, e) in items],
        "seq": [seq] * len(items)})


def heavy_hitters_stream(events: DataFrame) -> DataFrame:
    """Streaming space-saving top-k (Metwally et al.): per event_type,
    the HH_CAPACITY most frequent user_ids with overestimate bounds —
    bounded state per key (m counters) no matter how many distinct
    users flow past, which is the whole point: exact per-item counts
    grow state with cardinality, space-saving caps it and reports
    est_count with max_err such that true_count is in
    [est_count - max_err, est_count].

    Sequential-by-construction: counters update in the stream's
    (ts, event_id) total order inside each micro-batch, and the
    counter table carries across batches in the state store — so ANY
    partition of the stream into micro-batches yields the identical
    final counter table (the batch-parity test pins this). Emits the
    current table per key each micro-batch (update mode).

    Expects columns event_type, user_id, ts, event_id.
    """
    return keyed_state(events, "event_type", _hh_step, HH_STATE_SCHEMA,
                       HH_OUTPUT_SCHEMA, (0, {}), "update",
                       order=["ts", "event_id"])
