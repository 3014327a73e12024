"""Streaming foreachBatch merge sink: re-running the whole stream (new
checkpoint, same source) must not duplicate warehouse rows — the
exactly-once posture the reference lacks."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.streaming.events import read_events_stream
from batch_processing_etl_orchestration_spark.streaming.sink import (
    _CHECKPOINT_ROOT,
    stream_merge_to_table,
)
from batch_processing_etl_orchestration_spark.warehouse.catalog import create_database, create_table

DB = "stream_sink_test"
TABLE = "events_landed"


def _checkpoints() -> set[str]:
    """The entries under the throwaway-checkpoint root."""
    if not os.path.isdir(_CHECKPOINT_ROOT):
        return set()
    return set(os.listdir(_CHECKPOINT_ROOT))


def _table_dir(spark, table: str) -> str:
    """Managed location of ``DB.table`` under the session's warehouse."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(wh, f"{DB}.db", table)


@pytest.fixture(scope="module", autouse=True)
def scratch(spark):
    create_database(spark, DB)
    create_table(
        spark,
        TABLE,
        {
            "event_id": "BIGINT",
            "ts": "TIMESTAMP",
            "user_id": "BIGINT",
            "event_type": "STRING",
            "value": "DOUBLE",
            "props": "STRING",
        },
        DB,
    )
    yield
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{TABLE}")
    spark.sql(f"DROP DATABASE IF EXISTS {DB}")


def test_stream_merge_rerun_no_duplicates(spark):
    from batch_processing_etl_orchestration_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    expected = load_table(spark, sf, "events").count()

    before = _checkpoints()
    stream_merge_to_table(read_events_stream(spark, sf), TABLE, ["event_id"], DB)
    n1 = spark.table(f"{DB}.{TABLE}").count()
    assert n1 == expected
    # no checkpoint= passed: the throwaway checkpoint is removed
    assert _checkpoints() == before

    # fresh checkpoint → the source replays from scratch; the keyed
    # merge must swallow the duplicates
    stream_merge_to_table(read_events_stream(spark, sf), TABLE, ["event_id"], DB)
    assert spark.table(f"{DB}.{TABLE}").count() == expected


def test_stream_capped_sessions_chunked_replay_equals_batch(spark, tmp_path):
    """The capped-session recurrence must survive micro-batch
    boundaries: replay the events log as three chronological files
    (maxFilesPerTrigger=1 → three micro-batches), and the drained
    per-user summaries must bit-equal the batch grouped-map walk."""
    from pyspark.sql import functions as F

    from batch_processing_etl_orchestration_spark.plans.analytics import (
        q_sessionize_capped,
    )
    from batch_processing_etl_orchestration_spark.streaming.stateful import (
        stateful_capped_sessions,
    )
    from batch_processing_etl_orchestration_spark.streaming.events import (
        run_stream_to_table,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    # carry event time as int64 micros: pandas would write ns-precision
    # parquet, which the session's nanosAsLong conf reads back as longs
    ev = (
        load_table(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .orderBy("ts_us", "event_id")
        .toPandas()
    )
    n = len(ev)
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    import time

    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        ev.iloc[lo : lo + (n + 2) // 3].to_parquet(
            chunk_dir / f"{i}.parquet", index=False
        )
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    schema = spark.read.parquet(str(chunk_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chunk_dir))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .select("user_id", "event_id", "ts")
    )
    before = _checkpoints()
    got = run_stream_to_table(
        stateful_capped_sessions(stream),
        spark,
        output_mode="update",
        update_keys=["user_id"],
    )
    # the throwaway checkpoint and the stage dir are both removed: the
    # returned frame holds the final revisions itself
    left = _checkpoints() - before
    assert not left, left
    expected = q_sessionize_capped(spark, sf)
    key = lambda r: tuple(r)
    assert sorted(map(key, got.collect())) == sorted(map(key, expected.collect()))


def _chunked_events(spark, tmp_path, n_files: int, upto: int | None = None):
    """Write the sf0.001 events as n_files chronological parquet files
    (int64 micros — pandas ns parquet trips the nanosAsLong conf) and
    return (chunk_dir, paths). With upto, only the first `upto` files
    are written now; the rest are returned for late arrival."""
    import time

    from pyspark.sql import functions as F

    from batch_processing_etl_orchestration_spark.tables import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("ts_us", "event_id")
        .toPandas()
    )
    n = len(ev)
    step = (n + n_files - 1) // n_files
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    chunks = [ev.iloc[lo : lo + step] for lo in range(0, n, step)]
    paths = [chunk_dir / f"{i:02d}.parquet" for i in range(len(chunks))]
    for i in range((upto if upto is not None else len(chunks))):
        chunks[i].to_parquet(paths[i], index=False)
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    return chunk_dir, chunks, paths


def _event_stream(spark, chunk_dir):
    from pyspark.sql import functions as F

    schema = spark.read.parquet(str(chunk_dir)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chunk_dir))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .select("event_id", "ts", "user_id", "event_type", "value",
                F.lit(None).cast("string").alias("props"))
    )


def test_stream_merge_checkpoint_resume_exactly_once(spark, tmp_path):
    """VERDICT r8 next #3, merge sink: kill the stream MID-DRAIN (after
    a batch's merge ran but before its checkpoint commit — the worst
    torn state), add MORE input, restart from the SAME checkpoint, and
    the warehouse must equal a one-shot batch load: no duplicate from
    the replayed batch, no gap from the late files, and the resumed
    query must NOT redeliver batches the checkpoint committed."""
    import pyspark.errors

    from batch_processing_etl_orchestration_spark.warehouse.catalog import (
        merge_idempotent,
    )

    import shutil

    table = "events_resume"
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{table}")
    # a previous aborted run can leave the managed location behind
    shutil.rmtree(_table_dir(spark, table), ignore_errors=True)
    create_table(
        spark,
        table,
        {
            "event_id": "BIGINT",
            "ts": "TIMESTAMP",
            "user_id": "BIGINT",
            "event_type": "STRING",
            "value": "DOUBLE",
            "props": "STRING",
        },
        DB,
    )
    try:
        chunk_dir, chunks, paths = _chunked_events(spark, tmp_path, 4, upto=3)
        ckpt = str(tmp_path / "ckpt")
        seen: list[int] = []

        def crash_after_merge(batch, batch_id):
            # the merge COMMITS, then the process dies before the
            # checkpoint records the batch — the classic torn window
            seen.append(batch_id)
            merge_idempotent(batch.sparkSession, batch, table, ["event_id"], DB)
            if batch_id == 1:
                raise RuntimeError("simulated crash mid-drain")

        q = (
            _event_stream(spark, chunk_dir)
            .writeStream.foreachBatch(crash_after_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(pyspark.errors.StreamingQueryException):
            q.awaitTermination()
        assert seen == [0, 1]  # died inside batch 1, batch 2 never ran

        # late arrival while the stream is down
        chunks[3].to_parquet(paths[3], index=False)

        seen.clear()
        stream_merge_to_table(
            _event_stream(spark, chunk_dir), table, ["event_id"], DB,
            checkpoint=ckpt,
        )

        import pandas as pd

        expected = pd.concat(chunks)
        got = spark.table(f"{DB}.{table}")
        assert got.count() == len(expected)  # no dup (batch-1 replay), no gap
        assert got.select("event_id").distinct().count() == len(expected)
        # value-level equality with the one-shot batch load
        got_sum = got.agg(F.sum("value"), F.sum("event_id")).first()
        assert got_sum[0] == pytest.approx(float(expected["value"].sum()))
        assert got_sum[1] == int(expected["event_id"].sum())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{table}")
        shutil.rmtree(_table_dir(spark, table), ignore_errors=True)


def test_stream_mv_checkpoint_resume_exactly_once(spark, tmp_path):
    """VERDICT r8 next #3, incremental MV: the MV merge is ADDITIVE
    (double-merging a batch double-counts), so exactly-once rests on
    the per-batch marker + checkpoint. Crash after batch 1's merge AND
    marker but before its checkpoint commit, add a late file, resume
    from the SAME checkpoint: the replayed batch must be skipped by
    its marker, the late file must land, and the MV must equal the
    one-shot batch aggregation."""
    import os

    import pyspark.errors

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        MergeableSpec,
        delta_refresh,
        read_mv,
    )

    chunk_dir, chunks, paths = _chunked_events(spark, tmp_path, 4, upto=3)
    ckpt = str(tmp_path / "ckpt_mv")
    mv = str(tmp_path / "mv")
    markers = tmp_path / "markers"
    markers.mkdir()
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    merged: list[int] = []

    def merge(batch, batch_id, crash_at=None):
        marker = markers / f"_batch_{batch_id}"
        if marker.exists():
            return  # redelivered batch: already merged
        delta = batch.select(
            F.to_date("ts").alias("p_date"), "event_type", "value"
        )
        delta_refresh(spark, delta, spec, mv)
        marker.touch()
        merged.append(batch_id)
        if crash_at is not None and batch_id == crash_at:
            raise RuntimeError("simulated crash mid-drain")

    q = (
        _event_stream(spark, chunk_dir)
        .writeStream.foreachBatch(lambda b, i: merge(b, i, crash_at=1))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(pyspark.errors.StreamingQueryException):
        q.awaitTermination()
    assert merged == [0, 1]

    chunks[3].to_parquet(paths[3], index=False)  # late arrival

    q2 = (
        _event_stream(spark, chunk_dir)
        .writeStream.foreachBatch(lambda b, i: merge(b, i))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    # batch 1 was redelivered but marker-skipped: merged gains only new ids
    assert merged == [0, 1, 2, 3]

    import pandas as pd

    ev = pd.concat(chunks)
    got = {
        (r["p_date"].isoformat(), r["event_type"]): (r["total_value"], r["n_rows"])
        for r in read_mv(spark, spec, mv).collect()
    }
    ev = ev.assign(
        day=pd.to_datetime(ev["ts_us"], unit="us").dt.date.astype(str)
    )
    want = ev.groupby(["day", "event_type"])["value"].agg(["sum", "size"])
    assert len(got) == len(want)
    for (day, etype), row in want.iterrows():
        tv, n = got[(day, etype)]
        assert n == row["size"]
        assert tv == pytest.approx(float(row["sum"]))
