"""Streaming drains and the streaming → warehouse sink.

``drain`` is the package's one ``foreachBatch`` + ``availableNow``
drain, and ``drain_files`` its ordered file source: every streamed
scenario lands through them.

The reference's load stage is an append-only INSERT that duplicates
rows on re-run (K1, SURVEY §2.9). The engine's streaming sink composes
``foreachBatch`` with the warehouse's keyed idempotent merge: each
micro-batch upserts by natural key, so restarts, retries, and
reprocessed batches cannot duplicate. Checkpoints additionally skip
already-committed batches; the merge makes the sink safe even when
they don't (e.g. checkpoint loss).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from batch_processing_etl_orchestration_spark.tables import (
    STATE_ROOT,
    artifact_schema,
)
from batch_processing_etl_orchestration_spark.warehouse.catalog import (
    DEFAULT_DB,
    merge_idempotent,
)

_CHECKPOINT_ROOT = os.path.join(STATE_ROOT, "checkpoints")


def drain(stream_df: DataFrame, on_batch, checkpoint: str) -> None:
    """Run ``on_batch(batch_df, batch_id)`` on every micro-batch of
    `stream_df` with trigger(availableNow=True), checkpointed at
    `checkpoint`. Blocks until the backlog drains."""
    q = (
        stream_df.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_files(
    spark: SparkSession, src: str, on_batch, checkpoint: str
) -> None:
    """``drain`` over the landed directory `src`, read with its
    artifact schema, one file per trigger: the files arrive as
    micro-batches oldest first, so a directory written file by file
    replays in write order."""
    stream = (
        spark.readStream.schema(artifact_schema(spark, src))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    drain(stream, on_batch, checkpoint)


def stream_merge_to_table(
    stream_df: DataFrame,
    table: str,
    key_cols: list[str],
    db: str = DEFAULT_DB,
    checkpoint: str | None = None,
) -> None:
    """Run an availableNow streaming write where every micro-batch is
    an idempotent keyed merge into the warehouse table. Blocks until
    the backlog drains. Without `checkpoint` the drain runs on a
    throwaway checkpoint, removed afterwards: nothing can resume it."""
    ckpt = checkpoint or os.path.join(_CHECKPOINT_ROOT, f"merge_{uuid.uuid4().hex[:8]}")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_idempotent(batch.sparkSession, batch, table, key_cols, db)

    try:
        drain(stream_df, upsert, ckpt)
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
