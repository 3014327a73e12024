"""SparkSession factory tuned for the engine.

The reference runs eager single-process pandas inside Celery workers
(docker-compose.yaml:101-119); here the execution substrate is a Spark
cluster. Everything below is plain public Spark configuration:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — replaces the reference's absent optimizer (SURVEY §4).
- ANSI off: the reference's core cleaning semantic is null-on-error
  coercion (pd.to_numeric(..., errors='coerce'),
  EIA930PipelineHourlyData.py:114) — non-ANSI Spark casts match it.
  Queries still prefer explicit try_cast so they are correct under any
  session.
- UTC session timezone: the reference stores naive UTC timestamps
  (OpenMeteoWeatherPipelineHourlyData.py:67-68).
- shuffle.partitions sized for local[32] test runs; on a real cluster
  AQE coalescing makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "batch-processing-etl-orchestration-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Engine-wide convention: parquet INT64 TIMESTAMP(NANOS) columns
        # (events.ts in the fixtures) are read as epoch-nanos longs and
        # rebuilt as TIMESTAMP_NTZ by the loader (tables.load_table) —
        # set once here, never toggled per-read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
