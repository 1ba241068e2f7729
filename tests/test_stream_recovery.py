"""Checkpoint-recovery parity (r12 VERDICT next-round item 2): each
stateful operator whose replay bugs would change ANSWERS — sessionize,
funnel, the stream-stream interval join, heavy_hitters (native map
state) — is killed mid-run, restarted
from its checkpointLocation, and must produce byte-identical final
output to an uninterrupted run of the same file-replayed input.

The mechanics live in tools/stream_recovery.py (the recorded-run
harness behind BENCH_STREAM_RECOVERY.json); this is the small CI
variant, plus a sessionize-vs-batch-twin cross-check that anchors the
recovered stream to a non-streaming computation.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def recovery_mod(request):
    import sys
    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools")
    sys.path.insert(0, tools)
    try:
        import stream_recovery
        yield stream_recovery
    finally:
        sys.path.remove(tools)


@pytest.fixture(scope="module")
def src_dir(recovery_mod, spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("recovery") / "events_src")
    recovery_mod.gen_events(spark, src, n_files=6, rows_per_file=200,
                            n_users=16)
    return src


@pytest.mark.parametrize("op", ["sessionize", "funnel", "interval_join",
                                "heavy_hitters"])
def test_kill_and_resume_parity(recovery_mod, spark, tmp_path, src_dir, op):
    r = recovery_mod.run_recovery(spark, op, str(tmp_path), src_dir,
                                  stop_after=2)
    # run_recovery asserts parity, mid-run interruption, resumption,
    # and (append ops) no duplicate emissions; pin the report shape too
    assert r["parity"] is True
    assert 0 < r["phase1_batches"] < r["control_batches"]
    assert r["recovery_batches_total"] > r["phase1_batches"]
    if op == "sessionize":
        # the recovered stream's final per-session counts must ALSO
        # equal the batch twin on the same input — the recovery didn't
        # just match another stream run, it matched the ground truth
        from pyspark.sql import functions as F

        from research_index_backend_spark.streaming.sessionize import (
            sessionize_batch,
        )
        ev = (spark.read.parquet(src_dir)
              .select("event_id", "user_id",
                      (F.col("ts_sec") * F.lit(10**9)).alias("ts_ns")))
        twin = sorted(tuple(r) for r in sessionize_batch(ev).collect())
        rec = recovery_mod.final_rows(
            spark, op, os.path.join(str(tmp_path), op, "recovery_out"))
        assert rec == twin
