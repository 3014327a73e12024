"""SparkSession factory tuned for the engine.

The reference runs eager single-process pandas inside Celery workers
(docker-compose.yaml:101-119); here the execution substrate is a Spark
cluster. Everything below is plain public Spark configuration:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — replaces the reference's absent optimizer (SURVEY §4).
  It is Spark's default, so no conf sets it; nor is any other conf
  set to its default value.
- ANSI off: the reference's core cleaning semantic is null-on-error
  coercion (pd.to_numeric(..., errors='coerce'),
  EIA930PipelineHourlyData.py:114) — non-ANSI Spark casts match it.
  Queries still prefer explicit try_cast so they are correct under any
  session.
- UTC session timezone: the reference stores naive UTC timestamps
  (OpenMeteoWeatherPipelineHourlyData.py:67-68).
- shuffle.partitions sized for local[32] test runs; on a real cluster
  AQE coalescing makes the static number mostly irrelevant.
- Parquet codec zstd, not Spark's default snappy, for every parquet
  write of the package: warehouse merges, index stores, build_once
  artifacts and streaming stages. Each stored byte is read again by
  every later scan and every merge's key probe, so the writer pays
  once for fewer bytes read many times. With key-sorted warehouse
  merges (warehouse.catalog.merge_idempotent) one seeded `etl_ingest`
  day lands 124,754 warehouse bytes against 167,888 with snappy and
  no sort (-25.7%). A parquet file names its own codec, so readers
  need nothing and snappy files already on disk stay readable. This
  is the one place the codec is named.
- Driver JIT policy (`driver_jit_opts`) for hosts under 8 processors
  (`os.cpu_count()`): `-XX:CICompilerCount=2 -XX:Tier4LoadFeedback=2`,
  one C1 and one C2 compiler thread (not 1 + 2 on 4 cores) and tier-4
  thresholds scaled by the C2 queue length (queue / (2 x 1) + 1, not
  queue / (3 x 2) + 1). A once-a-day batch starts in a cold JVM whose
  C2 queue floods with Spark's fixed code (Janino, Java serialization,
  the SQL parser), so lukewarm methods stay in C1; once the queue
  drains the thresholds are the defaults again and hot loops still
  reach C2. From 8 processors up HotSpot runs more compiler threads
  (1 + 3 on 8, 5 + 10 on 32), and two in all would cut C2 (from 16 up
  C1 too) further than has been measured on such a host, so larger
  hosts keep the JVM defaults. It is
  `spark.driver.defaultJavaOptions`, which Spark puts ahead of a
  caller's `extraJavaOptions`; a caller's own
  `spark.driver.defaultJavaOptions` replaces it. It does not apply to a
  driver JVM already launched by `spark-submit`, nor to cluster
  executors, which keep the JVM defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_jit_opts(cpus: int) -> str | None:
    """The driver JVM's JIT options on a host with ``cpus`` processors, or
    None where the JVM defaults stand: under 8 processors HotSpot's own
    default is one C1 and at most two C2 threads, and two compiler
    threads in all take C2 threads only."""
    return "-XX:CICompilerCount=2 -XX:Tier4LoadFeedback=2" if cpus < 8 else None


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
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Engine-wide convention: parquet INT64 TIMESTAMP(NANOS) columns
        # (events.ts in the fixtures) are read as epoch-nanos longs and
        # rebuilt as TIMESTAMP_NTZ by the loader (tables.load_table) —
        # set once here, never toggled per-read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    jit_opts = driver_jit_opts(os.cpu_count() or 1)
    if jit_opts:
        builder = builder.config("spark.driver.defaultJavaOptions", jit_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
