"""Benchmark of the research-index engine, one workload per process.

    python3 ribench/run.py --workload ingest_batches --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``
inside a temporary directory of the checkout (``.ribench_work/``, removed
at exit), starts one Spark session with the host's core count, runs whole
operations until ``--seconds`` have passed (at least one), checks every
output, and prints as its last line one JSON object::

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, taken from spans around the
engine's layer calls, and the spans are written to
``.ribench_out/trace-<workload>-<seed>.json``. The line before the result
(``record ...``) holds the workload-specific figures, the core count and
the Spark driver memory of the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from ribench import catalog, ingest  # noqa: E402
from ribench.catalog import GRAPH_QUERIES  # noqa: E402

DRIVER_MEM = "3g"   # fits a 15 GiB host next to other work

# end-to-end metrics of every workload; each workload module adds its own
# (catalog.E2E for the workloads BENCHMARK.json lists)
SETUP_AND_MEMORY = {
    "setup_s": "s",        # process start to the first timed operation
    "peak_rss_mb": "MB",   # driver Python process plus its JVM
}
# per-layer metrics common to every workload
COMMON_LAYERS = {
    "session.get_spark_s": "s",
    "spark.jobs": "count",     # per operation
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_floor_s": "s",  # a one-row noop job, the per-job floor
    # median operation wall time of the traced run; minus the untraced
    # figure (catalog_s, batch_p50_s) it is the tracing overhead
    "trace.op_p50_s": "s",
    "trace.spans": "count",
}
# q.<name>.* rows kept for catalog_core: its five slowest queries on a
# 4-core host
CORE_SLOWEST = ("flagship_contains_tag", "existence_probe",
                "derived_key_join", "asof_join", "sessionize_events")
CATALOG_LAYERS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    **{f"q.{q}.{m}": u for q in GRAPH_QUERIES + CORE_SLOWEST
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
}
# the metrics BENCHMARK.json lists: those of the catalog workloads
END_TO_END = {**SETUP_AND_MEMORY, **catalog.E2E}
PER_LAYER = {**CATALOG_LAYERS, **COMMON_LAYERS}
# Ingest is measured by hand, not in BENCHMARK.json: one cold run_ingest
# call takes 90-100 s on a 4-core host, too long for the benchmark's runs.
WORKLOADS = ("catalog_graph", "catalog_core", "ingest_batches")


class Context:
    """What a workload needs: the session, its scratch directory, and the
    clock that ends set-up."""

    def __init__(self, spark, work: Path, cpu_s):
        self.spark = spark
        self.work = work
        self.cpu_s = cpu_s  # () -> CPU seconds the engine has used so far
        self.setup_s: float | None = None

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - T_START


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: Path, cpus: int) -> None:
    """Core count, memory, and every scratch location inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # executors' Python workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    tempfile.tempdir = str(tmp)
    # the session's warehouse and metastore default to the working dir
    os.chdir(work)


def _peak_rss_mb(jvm_pid: int | None) -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def engine_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the session's JVM and the
    JVM's descendants (the Python workers), reaped children included."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    total = own.ru_utime + own.ru_stime
    if jvm_pid is None:
        return total
    parent, ticks = {}, {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            text = stat.read_text()
        except OSError:  # the process ended while we looked
            continue
        fields = text[text.rindex(")") + 2:].split()
        pid = int(stat.parent.name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])
    hz = os.sysconf("SC_CLK_TCK")
    for pid in ticks:
        p = pid
        while p in parent and p != jvm_pid:
            p = parent[p]
        if p == jvm_pid:
            total += ticks[pid] / hz
    return total


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _noop_floor(spark) -> float:
    """Median wall time of a trivial one-row job to the noop sink."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            work: Path) -> tuple[dict, dict]:
    """Run one workload; return (result line, record)."""
    from ribench.trace import Tracer

    cpus = _cpus()
    _environment(work, cpus)
    from research_index_backend_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus)
    get_spark_s = time.perf_counter() - t0
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        ctx = Context(spark, work, lambda: engine_cpu_s(
            jvm.pid if jvm is not None else None))
        tracer = Tracer(spark, trace)
        mod = ingest if workload == "ingest_batches" else catalog
        out = mod.run(ctx, workload, seed, seconds, tracer)
        floor = _noop_floor(spark) if trace else None
        rss = _peak_rss_mb(jvm.pid if jvm is not None else None)
    finally:
        _stop(spark)

    walls = out["walls"]
    if trace:
        units = (dict(ingest.LAYERS, **COMMON_LAYERS)
                 if workload == "ingest_batches" else PER_LAYER)
        metrics = {name: 0.0 for name in units}
        per_op = out["layer_ops"]
        for name in per_op[0]:
            if name in metrics:
                metrics[name] = statistics.median(op[name] for op in per_op)
        for kind in ("jobs", "stages", "tasks"):
            metrics[f"spark.{kind}"] = statistics.median(
                sum(tracer.total(s, kind) for s in tracer.spans
                    if s.parent_id is None and s.op_id == op)
                for op in {s.op_id for s in tracer.spans if s.op_id})
        metrics["session.get_spark_s"] = get_spark_s
        metrics["spark.job_floor_s"] = floor
        metrics["trace.op_p50_s"] = statistics.median(walls)
        metrics["trace.spans"] = len(tracer.spans)
        out_dir = ROOT / ".ribench_out"
        tracer.dump(out_dir / f"trace-{workload}-{seed}.json")
    else:
        metrics = {"setup_s": ctx.setup_s, **out["e2e"], "peak_rss_mb": rss}
        units = (dict(SETUP_AND_MEMORY, **ingest.E2E)
                 if workload == "ingest_batches" else END_TO_END)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    record = dict(out["record"], workload=workload, seed=seed, trace=trace,
                  cpus=cpus, driver_memory=DRIVER_MEM,
                  failed_ratio=out["failed"] / out["attempted"],
                  op_walls_s=walls)
    return result, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ((ROOT / "research_index_backend_spark").is_dir()
            and (ROOT / "__spark_entry__.py").is_file()):
        print(f"ribench: no engine package next to {ROOT / 'ribench'}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    scratch = ROOT / ".ribench_work"
    scratch.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch))
    try:
        result, record = measure(args.workload, args.seed, args.seconds,
                                 bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print("record " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
