"""Structured Streaming over the events feed.

The reference ingests hourly feeds in scheduled batch DAGs with fixed
lateness horizons (EIA930PipelineHourlyData.py:48,73,98,102 — fetch 3
days back, keep through 2 days back; weather 7 days,
OpenMeteoWeatherPipelineHourlyData.py:50). In the engine those become
first-class streaming semantics (SURVEY §2.9):

- lateness horizon → ``withWatermark``
- hourly grain     → tumbling ``window(ts, '1 hour')``
- cron cadence     → ``trigger(availableNow=True)`` incremental runs
- append-only INSERT duplication defect → checkpointed exactly-once
  sink (here: memory/parquet sink; Delta MERGE in production)
- sessionization   → ``session_window(ts, gap)`` (north-star row)

The batch twins of these aggregations live in plans/parity.py
(q_hourly_net_by_type, q_sessionize_users); with availableNow over a
static directory the streaming results must equal the batch results,
which is exactly how the driver's oracle checks them.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.functions.exact import exact_sum
from batch_processing_etl_orchestration_spark.tables import STATE_ROOT

_CHECKPOINT_ROOT = os.path.join(STATE_ROOT, "checkpoints")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. Watermarks require
    TIMESTAMP (not NTZ), so the nanos-long ts becomes an epoch-based
    TIMESTAMP and the session timezone is pinned to UTC so formatted
    output equals the naive wall time any oracle reads from the file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table (the sf1 scale-up fixture): a DIRECTORY
        # of part files — stream it directly. The glob branch below
        # would list zero files here (pathGlobFilter matches leaf
        # FILES, and 'events.parquet' is the directory), silently
        # draining an empty stream (r8 sf1 sweep catch).
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # driver testdata: a single parquet FILE inside sf_dir — the
        # file-stream source needs a directory basePath plus a glob
        # to single it out among the sibling tables
        stream = (
            spark.readStream.schema(schema)
            .option("basePath", sf_dir)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_type = schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        # legacy testdata: INT64 TIMESTAMP(NANOS) read as epoch-nanos long
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp[us] testdata: NTZ (or tz-aware) micros; with the session
    # timezone pinned to UTC this cast is a pure reinterpretation, so
    # windows/watermarks line up with the naive wall time oracles read.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts_stream(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling-window hourly aggregate — the streaming
    form of the flagship A1 query. Watermark '2 days' mirrors the
    reference's keep-through-2-days-back trim (P10)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "total_value",
            "n_rows",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 days") -> DataFrame:
    """session_window sessionization — the streaming twin of
    q_sessionize_users' lag-based batch formulation. Same gap, same
    session boundaries."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    name: str | None = None,
    output_mode: str = "complete",
    update_keys: list[str] | None = None,
) -> DataFrame:
    """Execute a streaming aggregation to completion with
    trigger(availableNow) into a memory sink and return the result as
    a batch DataFrame. This is the incremental-batch execution mode
    matching the reference's cron cadence; checkpoints give restart
    exactly-once.

    Stateful applyInPandasWithState queries use output_mode='update'
    (complete is aggregation-only). An update sink receives EVERY
    per-batch revision of a key's row, so if the source splits into
    more than one micro-batch (multiple files, maxFilesPerTrigger) a
    plain memory sink accumulates duplicates. For update mode pass
    ``update_keys``: micro-batches are staged via foreachBatch with
    their batch_id stamped on, and only each key's final revision
    (max batch_id) is returned — correct under any micro-batch split.

    Without `name` the checkpoint is throwaway and removed after the
    drain, since nothing can resume it. The update-mode stage dir is
    always removed: the returned frame holds the final revisions
    itself (see _run_update_stream)."""
    table = name or f"stream_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(_CHECKPOINT_ROOT, table)
    if output_mode == "update" and not update_keys:
        raise ValueError(
            "output_mode='update' requires update_keys so later batch "
            "revisions of a key replace earlier ones"
        )
    try:
        if output_mode == "update":
            return _run_update_stream(df, spark, table, ckpt, update_keys)
        q = (
            df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(table)
    finally:
        if name is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_until(df: DataFrame, spark: SparkSession, done) -> DataFrame:
    """Run a complete-mode aggregation into a memory sink on the
    default trigger until ``done(result)`` holds, then stop it and
    return the result as a batch DataFrame. For sources whose
    availableNow run snapshots only their first read (a simple stream
    reader): the drain stops at the data's own high-water mark instead.
    Raises TimeoutError when `done` does not hold within 120 s."""
    table = f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 120
        while not done(spark.table(table)):
            if time.time() > deadline:
                raise TimeoutError(f"stream {table} never reached done()")
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(table)


def _run_update_stream(
    df: DataFrame,
    spark: SparkSession,
    table: str,
    ckpt: str,
    update_keys: list[str],
) -> DataFrame:
    """Drain an update-mode stream keeping each key's LAST revision.
    foreachBatch appends every micro-batch to a parquet staging dir
    with its batch_id (distributed write — no driver collect); the
    final read keeps the max-batch_id row per key.

    The final revisions are materialised with an eager
    ``localCheckpoint`` before the stage dir is removed, so nothing is
    left on disk. The returned frame's lineage ends at that checkpoint:
    its blocks live in executor storage, and losing an executor that
    holds one fails the next read of the frame (the stage it would
    recompute from is gone); drain the stream again to recover."""
    from pyspark.sql import Window

    # fresh stage dir per run: a reused explicit `name` must not
    # re-read batches staged by an earlier stream under the same name
    stage = os.path.join(_CHECKPOINT_ROOT, f"{table}_stage")
    shutil.rmtree(stage, ignore_errors=True)
    out_cols = df.columns

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(stage)

    try:
        q = (
            df.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(stage):
            from batch_processing_etl_orchestration_spark.tables import empty_df

            return empty_df(spark, df.schema)
        staged = spark.read.parquet(stage)
        # deterministic revision pick: batch_id desc, then the remaining
        # columns as a tiebreak in case a key ever emits more than one
        # row within a single micro-batch
        tiebreak = [F.col(c).desc() for c in out_cols if c not in update_keys]
        w = Window.partitionBy(*update_keys).orderBy(
            F.col("_batch_id").desc(), *tiebreak
        )
        return (
            staged.withColumn("_rev", F.row_number().over(w))
            .where(F.col("_rev") == 1)
            .select(*out_cols)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
