"""SparkSession factory tuned for this engine.

The reference opens a fresh Bolt TCP connection per decorated call
(reference src/research_index_backend/session.py:17-32 — the N+1
anti-pattern). Here the session *is* the engine handle: one long-lived
SparkSession with AQE, UTC timestamps (deterministic cross-engine
comparisons) and Arrow enabled.

Scale posture: these configs are written for local[N] testing but the only
local-specific knob is the master URL; on a 1000-executor cluster the same
builder (minus master) holds — AQE coalesces shuffle partitions and handles
skew joins at runtime, shuffle.partitions is a starting hint only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Core count of local[N] sessions: $SPARK_GRAFT_CPUS, else this host's.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def get_spark(app_name: str = "research_index_backend_spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Deterministic-comparison settings:
    - session timeZone=UTC so parquet timestamps collect identically to
      DuckDB's naive reading.
    - Arrow on: Pandas UDF exchange is vectorized, never per-row pickle.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
