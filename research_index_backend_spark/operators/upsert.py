"""Keyed upsert (Cypher MERGE semantics) on plain Parquet.

Reference behavior: every `.save()` is match-then-create — e.g. Article
checks `MATCH (a:Output {doi: $doi})` before `CREATE`
(reference src/research_index_backend/models.py:165-249), and edge MERGE
dedupes on endpoints (models.py:121-137). Uniqueness constraints are
declared server-side (create_graph.py:262-271). The `-u` update flag
(reference create_graph_from_doi.py:282, doi.py:219-224) re-processes
existing DOIs — expressed here as mode="update" (incoming replaces
matching-key rows instead of being dropped).

Spark-first design: MERGE == anti-join new-vs-existing + unionByName.
One shuffle on the key (or zero, if the existing side is small enough to
broadcast the anti-join). Writes go to a temp dir then atomically rename —
single-writer assumption documented here. Uniqueness constraints become a
distributed assertion (groupBy key, any group >1 fails) — never a collect
of the data itself.

Scale: the anti-join shuffles both sides by the key once; with the node
tables bucketed by key on disk even that shuffle disappears (bucketed
scan-to-scan join). The assertion is a partial-aggregate count — map-side
combined, tiny result.

Two sink shapes:
- upsert_parquet: full-rewrite swap — right for the batch-CLI shape where
  each run rewrites a whole node table once.
- upsert_parquet_bucketed: the continuous-sink shape — the target is
  hash-partitioned into key buckets (bucket=NNN dirs) and an upsert only
  rewrites buckets whose keys intersect the incoming batch (Spark dynamic
  partition overwrite). A micro-batch touching 3 of 256 buckets does
  O(3/256 * table) I/O instead of O(table).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class UniquenessViolation(Exception):
    pass


def assert_unique(df: DataFrame, keys: list[str], label: str = "") -> None:
    """Distributed uniqueness check: the Spark analogue of
    `CREATE CONSTRAINT ... IS UNIQUE` (reference create_graph.py:263-266)."""
    dupes = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dupes:
        raise UniquenessViolation(
            f"duplicate key {dupes[0].asDict()} in {label or 'table'} on {keys}")


def upsert(existing: DataFrame, incoming: DataFrame, keys: list[str],
           check_unique: bool = False, mode: str = "insert") -> DataFrame:
    """MERGE-by-key. Incoming is deduped on the key first (keep
    arbitrary-first via dropDuplicates — deterministic variants use
    operators.window_ops.keep_first).

    mode="insert" (reference default): keep all existing rows, append
    incoming rows whose key is absent — match-then-create.
    mode="update" (the -u flag, reference create_graph_from_doi.py:282):
    incoming rows REPLACE matching-key existing rows; existing rows with no
    incoming twin are kept untouched. Both are one key-shuffle: an
    anti-join on whichever side loses, then unionByName.
    """
    if mode not in ("insert", "update"):
        raise ValueError(f"upsert mode must be insert|update, got {mode!r}")
    deduped = incoming.dropDuplicates(keys)
    if mode == "insert":
        fresh = deduped.join(existing, on=keys, how="left_anti")
        merged = existing.unionByName(fresh)
    else:
        kept = existing.join(deduped, on=keys, how="left_anti")
        merged = kept.unionByName(deduped)
    if check_unique:
        assert_unique(merged, keys, "upsert result")
    return merged


def _recover(target: Path, old: Path, new: Path) -> None:
    """Crash recovery BEFORE stale cleanup. If the target is missing, a
    prior run died between its target->old and new->target renames; the
    data still exists exactly once:

    - .new with a _SUCCESS marker is the complete merged table (the write
      finished before any rename started) -> promote it.
    - else .old is the pre-merge table -> restore it.

    Only after the target exists again is it safe to delete stale dirs.
    (Round-2 ADVICE: the old code rmtree'd both and silently lost the
    table.)
    """
    if target.exists():
        return
    if new.exists() and (new / "_SUCCESS").exists():
        new.rename(target)
    elif old.exists():
        old.rename(target)


def swap_write(spark, path: str, build) -> None:
    """Crash-safe replace of a Parquet directory — THE swap protocol,
    shared by every sink that rewrites a whole target (keyed upsert,
    CDC apply, CDC compaction).

    Ordering: (0) recover from a crashed prior run (promote a complete
    .new, else restore .old — see _recover), (1) clean any remaining
    stale .old/.new, (2) write `build(existing_df_or_None)` to a .new
    dir ADJACENT to the target (same filesystem, so the final moves are
    renames, not copies), (3) move target -> .old, (4) move .new ->
    target, (5) drop .old. A crash between (3) and (4) leaves both
    .old and the complete .new for step (0) to recover; a crash
    anywhere earlier leaves the target untouched.

    Single-writer assumption: concurrent writers to the same path race
    on the rename; a production lake would use a transactional table
    format, this keeps the engine dependency-free.
    """
    target = Path(path)
    old = target.with_suffix(target.suffix + ".old")
    new = target.with_suffix(target.suffix + ".new")
    _recover(target, old, new)
    for stale in (old, new):
        if stale.exists():
            shutil.rmtree(stale)
    existing = spark.read.parquet(str(target)) if target.exists() else None
    build(existing).write.mode("overwrite").parquet(str(new))
    if target.exists():
        target.rename(old)
    new.rename(target)
    if old.exists():
        shutil.rmtree(old)
    # The swap changed the table's rowcount mid-session: drop any
    # session-cached fallback sizing stat for it so the next plan build
    # re-counts (sources/stats.py staleness note — the footer cache
    # self-invalidates on mtime/size, the fallback cache cannot).
    from ..sources.stats import invalidate_rowcount
    invalidate_rowcount(str(target.parent), target.stem)


def upsert_parquet(spark, incoming: DataFrame, path: str, keys: list[str],
                   mode: str = "insert") -> None:
    """Upsert into a Parquet directory via the shared swap protocol
    (swap_write holds the crash-safety ordering)."""
    swap_write(spark, path,
               lambda existing: incoming.dropDuplicates(keys)
               if existing is None
               else upsert(existing, incoming, keys, mode=mode))


BUCKET_COL = "__kb"


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    """Deterministic key bucket: pmod(hash(keys), n) — F.hash is Murmur3
    with a fixed seed, stable across runs/sessions, so a key always lands
    in the same bucket directory."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]),
                           F.lit(n_buckets)))


def upsert_parquet_bucketed(spark, incoming: DataFrame, path: str,
                            keys: list[str], n_buckets: int = 16,
                            mode: str = "insert") -> None:
    """Partition-pruned upsert: the target is laid out as
    path/__kb=N/part-*.parquet and an upsert rewrites ONLY the buckets
    whose keys intersect the incoming batch.

    Mechanics: incoming rows get their key bucket; the existing side is
    read partition-pruned to just the touched buckets (Catalyst prunes
    __kb=N dirs from the scan); the merged frame is written with dynamic
    partition overwrite (the per-write partitionOverwriteMode option),
    which replaces exactly the partitions present in the written data and
    leaves every other bucket's files untouched on disk.

    This is the continuous-sink shape (foreachBatch): per micro-batch I/O
    is O(touched_buckets/n_buckets * table), not O(table). Size n_buckets
    so a bucket ~ a comfortable rewrite unit (e.g. 1-4 GB at scale);
    production lakes get the same semantics transactionally from a table
    format — this is the dependency-free equivalent, with per-partition
    commit (a crash mid-write can leave a subset of touched buckets
    updated; re-running the same batch converges because the merge is
    idempotent by key).
    """
    target = Path(path)
    inc = _with_bucket(incoming.dropDuplicates(keys), keys, n_buckets)
    if not target.exists():
        (inc.write.mode("overwrite").partitionBy(BUCKET_COL)
         .parquet(str(target)))
        return
    touched = [r[BUCKET_COL] for r in inc.select(BUCKET_COL).distinct().collect()]
    existing = (
        spark.read.option("basePath", str(target)).parquet(str(target))
        .filter(F.col(BUCKET_COL).isin(touched))  # partition pruning
    )
    merged = upsert(existing, inc, keys, mode=mode)
    # per-write option, not the session conf: two foreachBatch queries
    # sharing a session must not see each other's overwrite mode
    (merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(BUCKET_COL).parquet(str(target)))


def read_bucketed(spark, path: str) -> DataFrame:
    """Read a bucketed upsert target without the bucket column."""
    return (spark.read.option("basePath", path).parquet(path)
            .drop(BUCKET_COL))
