"""Workload ``ingest_batches``: the paper's DOI-ingest entry point.

One operation is one ``cli.run_ingest`` call on a 50-line DOI file (the
reference CLI's default ``-l 50``) into a graph preloaded during set-up,
including the collect of its 14-metric scorecard. A single client runs
operations back to back (closed loop). The responses come from an
in-process transport built from the seed, shipped to the executors with
the fetch closure.

After each call, outside the timed region, the scorecard and the row
counts of the graph tables are compared with what the generator predicts.
"""

from __future__ import annotations

import importlib
import statistics
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

from . import gen

GRAPH_TABLES = ("outputs", "authors", "author_of", "refers_to", "countries")
MAX_BATCHES = 12
E2E = {
    "batch_p50_s": "s",              # median wall time of one call
    "dois_per_s": "1/s",             # processed DOIs per second of calls
    "stored_bytes_per_doi": "bytes",  # graph tables on disk per output
}
LAYERS = {
    "ingest.parse.build_s": "s",         # self time of the parse calls
    "operators.resolve.build_s": "s",
    "ingest.pipeline.build_s": "s",
    "cli.checkpoint_s": "s",             # run_ingest's localCheckpoints
    "cli.checkpoint_jobs": "count",
    "operators.upsert.s": "s",
    "operators.upsert.jobs": "count",
    "operators.upsert.bytes_written": "bytes",
    "operators.resolve.created_ratio": "ratio",  # new / parsed authors
    "ingest.fetch.transport_calls": "count",
    "ingest.fetch.transport_s": "s",
    "ingest.fetch.error_ratio": "ratio",
    "sources.read_doi_list_s": "s",
}


def make_transport(responses: dict[tuple[str, str], tuple[int, str]],
                   failing: set[tuple[str, str]] = frozenset(),
                   counters=None):
    """``transport(url, headers) -> (status, body)`` serving ``responses``
    keyed by (source, doi). ``counters`` = (calls, errors, seconds)
    accumulators, counted only in traced runs; a call is an error when its
    key is in ``failing``."""

    def transport(url: str, headers: dict) -> tuple[int, str]:
        t0 = time.perf_counter()
        if "originalId=" in url:
            key = ("openaire", url.split("originalId=", 1)[1])
        elif "/works/doi:" in url:
            key = ("openalex", url.split("/works/doi:", 1)[1])
        else:
            raise ValueError(f"unexpected url {url}")
        status, body = responses[key]
        if counters is not None:
            calls, errors, seconds = counters
            calls.add(1)
            errors.add(int(key in failing))
            seconds.add(time.perf_counter() - t0)
        return status, body

    return transport


def _rows(table_dir: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in table_dir.glob("*.parquet"))


def _bytes(table_dir: Path) -> int:
    return sum(f.stat().st_size for f in table_dir.rglob("*") if f.is_file())


def warm_up(spark, work: Path) -> None:
    """Exercise the engine paths an ingest call uses (Python UDFs, Arrow
    exchange, JSON parsing, checkpoints, parquet write and read) on a tiny
    input, so the first timed call does not pay the JVM's warm-up."""
    from pyspark.sql import functions as F

    from research_index_backend_spark.functions.pytext import (
        clean_html_udf,
        py_title_udf,
    )
    from research_index_backend_spark.ingest.fetch import fetch_metadata

    cpus = spark.sparkContext.defaultParallelism
    df = (spark.range(64).repartition(cpus)
          .select(py_title_udf(F.concat(F.lit("ab "), F.col("id").cast("string"))).alias("t"),
                  clean_html_udf(F.lit("<b>x</b>")).alias("c")))
    df.localCheckpoint().groupBy("c").count().collect()
    dois = spark.createDataFrame([(f"10.1/{i}",) for i in range(8)], "doi string")
    tx = make_transport({(s, f"10.1/{i}"): (200, '{"results": [{"id": "x"}]}')
                         for s in ("openaire", "openalex") for i in range(8)})
    fetch_metadata(dois.repartition(cpus), transport=tx).localCheckpoint().count()
    out = str(work / "warm.parquet")
    (spark.range(100).selectExpr("id", "to_json(named_struct('a', id)) j")
     .select("id", F.from_json("j", "a long").alias("s"))
     .write.mode("overwrite").parquet(out))
    spark.read.parquet(out).count()


def run(ctx, workload: str, seed: int, seconds: float, tracer) -> dict:
    # modules, not the same-named functions their packages re-export
    cli, parse, resolve, upsert = (importlib.import_module(
        f"research_index_backend_spark.{m}") for m in (
        "cli", "ingest.parse", "operators.resolve", "operators.upsert"))

    spark, work = ctx.spark, ctx.work
    data_dir = work / "graph"
    t0 = time.perf_counter()
    preload = gen.write_graph_preload(seed, data_dir)
    batches = gen.make_batches(seed, preload, MAX_BATCHES)
    t1 = time.perf_counter()
    warm_up(spark, work)
    ctx.end_setup()
    phases = {"inputs_s": t1 - t0, "warm_up_s": time.perf_counter() - t1}

    for owner, attr, name in (
            (cli, "read_doi_list", "sources.read_doi_list"),
            (cli, "fetch_metadata", "ingest.fetch"),
            (cli, "build_graph_from_envelopes", "ingest.pipeline"),
            (parse, "parse_articles", "ingest.parse"),
            (parse, "parse_authors", "ingest.parse"),
            (parse, "parse_openalex", "ingest.parse"),
            (resolve, "resolve_authors", "operators.resolve"),
            (upsert, "upsert_parquet", "operators.upsert"),
            # the session's concrete DataFrame class, not the API base class
            (type(spark.range(0)), "localCheckpoint", "cli.checkpoint")):
        tracer.wrap(owner, attr, name)
    sc = spark.sparkContext
    expect = {"outputs": preload.outputs, "authors": len(preload.authors),
              "author_of": preload.author_of, "refers_to": preload.refers_to}
    walls, processed, failed, layer_ops = [], 0, 0, []
    deadline = time.perf_counter() + seconds
    try:
        for i, batch in enumerate(batches):
            if walls and time.perf_counter() >= deadline:
                break
            doi_file = work / f"dois-{i}.txt"
            doi_file.write_text("\n".join(batch.lines) + "\n")
            counters = None
            if tracer.enabled:
                counters = (sc.accumulator(0), sc.accumulator(0),
                            sc.accumulator(0.0))
            tx = make_transport(batch.responses, batch.failing, counters)
            tracer.op_id = f"batch{i}"
            t0 = time.perf_counter()
            with tracer.span("op"):
                row = cli.run_ingest(spark, str(doi_file), str(data_dir),
                                     limit=gen.BATCH_LINES,
                                     transport=tx).collect()[0]
            walls.append(time.perf_counter() - t0)
            tracer.attach_jobs()
            processed += row["processed_dois"]

            # output checks, outside the timed region
            before = dict(expect)
            expect["outputs"] += batch.new_outputs
            expect["authors"] += batch.new_authors
            expect["author_of"] += batch.new_author_of
            expect["refers_to"] += batch.new_refers_to
            got = {k: _rows(data_dir / k) for k in expect}
            card = {k: v for k, v in row.asDict().items()
                    if k != "total_time_seconds"}
            if card != batch.scorecard or got != expect:
                failed += 1
                print(f"batch {i}: scorecard {card} expected "
                      f"{batch.scorecard}; rows {got} expected {expect}",
                      file=sys.stderr)
                expect = got
            if tracer.enabled:
                layer_ops.append(_layers(tracer, f"batch{i}", counters,
                                         got["authors"] - before["authors"],
                                         batch.parsed_authors, data_dir))
    finally:
        tracer.unwrap_all()

    stored = sum(_bytes(data_dir / t) for t in GRAPH_TABLES)
    n_out = _rows(data_dir / "outputs")
    e2e = {
        "batch_p50_s": statistics.median(walls),
        "dois_per_s": processed / sum(walls),
        "stored_bytes_per_doi": stored / n_out,
    }
    record = dict(e2e, batches=len(walls), **phases)
    return {"walls": walls, "e2e": e2e, "attempted": len(walls),
            "failed": failed, "record": record, "layer_ops": layer_ops}


def _layers(tracer, op_id: str, counters, new_authors: int,
            parsed_authors: int, data_dir: Path) -> dict[str, float]:
    """Per-layer numbers of one traced batch."""
    def self_s(name: str) -> float:
        return sum(tracer.self_time(s) for s in tracer.named(name, op_id))

    def spans(name: str):
        return tracer.named(name, op_id)

    calls, errors, seconds = (c.value for c in counters)
    ups = spans("operators.upsert")
    ckpt = spans("cli.checkpoint")
    return {
        "ingest.parse.build_s": self_s("ingest.parse"),
        "operators.resolve.build_s": self_s("operators.resolve"),
        "ingest.pipeline.build_s": self_s("ingest.pipeline"),
        "cli.checkpoint_s": sum(s.duration for s in ckpt),
        "cli.checkpoint_jobs": sum(tracer.total(s, "jobs") for s in ckpt),
        "operators.upsert.s": sum(s.duration for s in ups),
        "operators.upsert.jobs": sum(tracer.total(s, "jobs") for s in ups),
        "operators.upsert.bytes_written": sum(
            _bytes(data_dir / t) for t in ("outputs", "authors", "author_of",
                                           "refers_to")),
        "operators.resolve.created_ratio": new_authors / max(parsed_authors, 1),
        "ingest.fetch.transport_calls": calls,
        "ingest.fetch.transport_s": seconds,
        "ingest.fetch.error_ratio": errors / max(calls, 1),
        "sources.read_doi_list_s": sum(s.duration for s in
                                       spans("sources.read_doi_list")),
    }
