"""Streaming → warehouse sink with exactly-once-style semantics.

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
import uuid

from pyspark.sql import DataFrame

from batch_processing_etl_orchestration_spark.tables import STATE_ROOT
from batch_processing_etl_orchestration_spark.warehouse.catalog import (
    DEFAULT_DB,
    merge_idempotent,
)

_CHECKPOINT_ROOT = os.path.join(STATE_ROOT, "checkpoints")


def stream_merge_to_table(
    stream_df: DataFrame,
    table: str,
    key_cols: list[str],
    db: str = DEFAULT_DB,
    checkpoint: str | None = None,
) -> None:
    """Run an availableNow streaming write where every micro-batch is
    an idempotent keyed merge into the warehouse table. Blocks until
    the backlog drains."""
    ckpt = checkpoint or os.path.join(_CHECKPOINT_ROOT, f"merge_{uuid.uuid4().hex[:8]}")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_idempotent(batch.sparkSession, batch, table, key_cols, db)

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
