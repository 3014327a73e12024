"""Subprocess worker for the REAL-concurrency postings-index
contention test (VERDICT r11 next #7). Each worker is its own OS
process with its own SparkSession and JVM — unlike the scripted
single-process interleavings in test_retrieval.py, the timing windows
here are genuine. Synchronization is a filesystem barrier so both
workers enter each contention phase together.

Usage: python parallel_index_worker.py INDEX_PATH SYNC_DIR WORKER_ID OUT_JSON [KIND]

KIND selects the index under stress: "postings" (default) or "ivf" —
both run the SAME GenerationalStore protocol (operators/genstore.py),
so the schedule below exercises identical race windows through either
subclass.

Schedule (W0 / W1 per phase — chosen so every documented race runs
under real parallelism):
  0: add_segment(w0r0)      / add_segment(w1r0)       (add vs add)
  1: delete_docs(own ids)   / compact_segments()      (delete vs compact)
  2: compact_segments()     / delete_docs(base id 2)  (compact vs delete)
  3: add_segment(w0r3)      / compact_segments()      (add vs compact)

Every op is recorded {op, ok, error}; clean failures are legitimate
outcomes of the race protocol — the parent asserts the POST-HOC
invariants (no lost segment, no resurrected tombstone, consistent
stores) against what each worker actually committed.
"""

from __future__ import annotations

import json
import os
import sys
import time


def barrier(sync_dir: str, me: int, phase: int, timeout: float = 120.0) -> None:
    open(os.path.join(sync_dir, f"w{me}.p{phase}"), "w").close()
    other = os.path.join(sync_dir, f"w{1 - me}.p{phase}")
    t0 = time.monotonic()
    while not os.path.exists(other):
        if time.monotonic() - t0 > timeout:
            raise TimeoutError(f"worker {1 - me} never reached phase {phase}")
        time.sleep(0.02)


def main() -> None:
    index_path, sync_dir, me_s, out_json = sys.argv[1:5]
    kind = sys.argv[5] if len(sys.argv) > 5 else "postings"
    me = int(me_s)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession

    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"contention-worker-{me}")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    if kind == "ivf":
        from batch_processing_etl_orchestration_spark.operators.similarity import (  # noqa: E501
            IvfIndex,
        )

        idx = IvfIndex.load(spark, index_path)
    else:
        idx = PostingsIndex(spark, index_path)
    results: list[dict] = []

    def attempt(op: str, fn) -> bool:
        try:
            fn()
            results.append({"op": op, "ok": True, "error": None})
            return True
        except Exception as exc:  # clean failure: a legitimate outcome
            # Record the vanished-file signature too:
            # the parent accepts a JVM-rendered loser ONLY when the
            # error structurally matches a concurrently-retracted
            # segment — a non-corrupting protocol crash (NPE, OOM)
            # must fail the stress test, not pass as a race loser.
            from jvm_errors import _is_file_vanished

            results.append(
                {"op": op, "ok": False,
                 "error": f"{type(exc).__name__}: {exc}",
                 "vanished": _is_file_vanished(exc)}
            )
            return False

    if kind == "ivf":
        # deterministic 8-dim vectors; add_segment pads nothing — the
        # index was built with dim=8
        def docs(ids_words):
            return spark.createDataFrame(
                [
                    (i, [float((i * 7 + j) % 13) for j in range(8)])
                    for i, _ in ids_words
                ],
                "cand_id BIGINT, ce ARRAY<DOUBLE>",
            )

        def ids(vals):
            return spark.createDataFrame(
                [(v,) for v in vals], "cand_id BIGINT"
            )

        idx.delete_docs = idx.delete_vectors  # schedule uses one name
    else:
        def docs(ids_words):
            return spark.createDataFrame(
                ids_words, "doc_id BIGINT, text STRING"
            )

        def ids(vals):
            return spark.createDataFrame(
                [(v,) for v in vals], "doc_id BIGINT"
            )

    if me == 0:
        barrier(sync_dir, me, 0)
        attempt("add:w0r0:100,101", lambda: idx.add_segment(
            docs([(100, "hash join probe"), (101, "scan filter probe")]),
            "w0r0"))
        barrier(sync_dir, me, 1)
        attempt("del:100", lambda: idx.delete_docs(ids([100])))
        barrier(sync_dir, me, 2)
        attempt("compact", idx.compact_segments)
        barrier(sync_dir, me, 3)
        attempt("add:w0r3:110,111", lambda: idx.add_segment(
            docs([(110, "merge sort spill"), (111, "probe hash build")]),
            "w0r3"))
    else:
        barrier(sync_dir, me, 0)
        attempt("add:w1r0:200,201", lambda: idx.add_segment(
            docs([(200, "join join filter"), (201, "sort scan scan")]),
            "w1r0"))
        barrier(sync_dir, me, 1)
        attempt("compact", idx.compact_segments)
        barrier(sync_dir, me, 2)
        attempt("del:2", lambda: idx.delete_docs(ids([2])))
        barrier(sync_dir, me, 3)
        attempt("compact", idx.compact_segments)

    with open(out_json, "w") as f:
        json.dump(results, f)
    spark.stop()


if __name__ == "__main__":
    main()
