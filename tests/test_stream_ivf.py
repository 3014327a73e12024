"""Streaming VECTOR-index maintenance (q_stream_ivf_maintain, VERDICT
r14 #2): exactly-once segment landing under redelivery — including a
replay of a tombstoned-then-compacted batch — and mid-drain
delete_vectors honored. Mirrors tests/test_stream_index.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.operators.similarity import (
    IvfIndex,
    ivf_build_centroids,
)
from batch_processing_etl_orchestration_spark.tables import load_table

SF = "/root/testdata/sf0.01"


def _corpus(spark):
    e = load_table(spark, SF, "embeddings")
    return e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )


def _bootstrap(spark, c, path):
    cent = ivf_build_centroids(c, "cand_id", "ce", n_cells=4, dim=64)
    IvfIndex.build(
        spark,
        spark.createDataFrame([], "cand_id BIGINT, ce ARRAY<DOUBLE>"),
        path,
        dim=64,
        centroids=cent,
    )


def _live(path, spark):
    idx = IvfIndex.load(spark, path)
    return {
        r["cand_id"]
        for r in idx._union_store("inverted").select("cand_id").collect()
    }


def test_ivf_redelivered_batch_is_noop(spark, tmp_path):
    """Replay of a committed batch id changes nothing — before AND
    after a compaction folds the segment away (then the cumulative
    committed_segments ledger is the marker)."""
    c = _corpus(spark)
    path = str(tmp_path / "sivf")
    _bootstrap(spark, c, path)
    sink = IvfIndex.stream_sink(path)
    b0 = c.where(F.col("cand_id") < 50)
    sink(b0, 0)
    snap = _live(path, spark)
    assert snap == {r["cand_id"] for r in b0.collect()}
    sink(b0, 0)  # checkpoint-retry replay: segment dir exists
    assert _live(path, spark) == snap

    # fold the segment into the base, then replay again: the segment
    # dir is gone but the ledger remembers — still a no-op
    idx = IvfIndex.load(spark, path)
    idx.delete_vectors(
        spark.createDataFrame([(999_999,)], "cand_id BIGINT")
    )
    idx.compact_segments()
    assert idx._segment_dirs() == []
    sink(b0, 0)
    assert _live(path, spark) == snap


def test_ivf_folded_then_deleted_batch_replay_does_not_resurrect(
    spark, tmp_path
):
    """The ADVICE r14 resurrection scenario on the vector index: a
    batch lands, its vectors are deleted, a compaction folds BOTH the
    marker and the tombstones — the replay must NOT re-land it."""
    c = _corpus(spark)
    path = str(tmp_path / "sivf2")
    _bootstrap(spark, c, path)
    sink = IvfIndex.stream_sink(path)
    b0 = c.where(F.col("cand_id") < 30)
    b1 = c.where((F.col("cand_id") >= 30) & (F.col("cand_id") < 60))
    sink(b0, 0)
    sink(b1, 1)

    idx = IvfIndex.load(spark, path)
    idx.delete_vectors(b1.select("cand_id"))
    idx.compact_segments()
    expect = {r["cand_id"] for r in b0.collect()}
    assert _live(path, spark) == expect

    sink(b1, 1)  # replay of the folded+deleted batch
    assert _live(path, spark) == expect  # stays deleted


def test_ivf_middrain_tombstones_and_partial_overlap(spark, tmp_path):
    """Deletes landing between micro-batches stay applied through the
    drain and compaction; a batch re-emitting one old vector beside a
    fresh one fails loudly (never silently loses the fresh one)."""
    c = _corpus(spark)
    path = str(tmp_path / "sivf3")
    _bootstrap(spark, c, path)
    sink = IvfIndex.stream_sink(path)
    sink(c.where(F.col("cand_id") < 20), 0)

    idx = IvfIndex.load(spark, path)
    idx.delete_vectors(
        spark.createDataFrame([(3,), (7,)], "cand_id BIGINT")
    )
    sink(c.where((F.col("cand_id") >= 20) & (F.col("cand_id") < 40)), 1)
    assert not ({3, 7} & _live(path, spark))

    # a batch redelivering a TOMBSTONED id is a real conflict
    with pytest.raises(ValueError, match="tombstoned"):
        sink(c.where(F.col("cand_id").isin(3)), 7)

    # replay under a DIFFERENT batch id post-compaction with every
    # incoming id live -> committed, no-op. (A replay carrying the
    # DELETED ids 3/7 is a partial overlap by the strict rule and
    # fails — only the batch-id-named ledger can classify that case,
    # covered in test_ivf_folded_then_deleted_batch_replay above.)
    idx.compact_segments()
    pre = _live(path, spark)
    sink(
        c.where((F.col("cand_id") < 20) & ~F.col("cand_id").isin(3, 7)),
        5,
    )
    assert _live(path, spark) == pre

    # partial overlap: one live id + one fresh id -> must raise
    with pytest.raises(ValueError, match="already live"):
        sink(
            c.where(F.col("cand_id").isin(1, 45)), 6
        )
    assert 45 not in _live(path, spark)


def test_ivf_stream_drain_equals_one_shot_build(spark, tmp_path):
    """Post-drain probe is BIT-EQUAL to a one-shot pinned-quantizer
    build over the same vectors — micro-batching cannot change any
    cell assignment or cosine score."""
    c = _corpus(spark)
    path = str(tmp_path / "sivf4")
    _bootstrap(spark, c, path)
    sink = IvfIndex.stream_sink(path)
    for i, lo in enumerate(range(0, 200, 50)):
        sink(
            c.where(
                (F.col("cand_id") >= lo) & (F.col("cand_id") < lo + 50)
            ),
            i,
        )
    idx = IvfIndex.load(spark, path)

    ref = IvfIndex.build(
        spark,
        c.where(F.col("cand_id") < 200),
        str(tmp_path / "sivf4_ref"),
        dim=64,
        centroids=idx.centroids,
    )
    e = load_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )

    def snap(i):
        return {
            (r["query_id"], r["cand_id"], r["rank"], r["cosine_sim"])
            for r in i.probe(q, k=10, n_probe=3).collect()
        }

    assert snap(idx) == snap(ref) and len(snap(idx)) > 0
