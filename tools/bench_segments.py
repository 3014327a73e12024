"""Segment fan-out vs serving cost on the impact-ordered index at
sf10 (VERDICT r14 #4): a real ingest lands hundreds of segments
before compaction, and the merge policy needs a MEASURED threshold,
not a guess. For fan-out S in {1, 4, 16, 64}:

- build an impact-ordered PostingsIndex from an EMPTY bootstrap by
  landing S add_segment batches (doc_id % S, ascending batch order —
  the q_stream_index_maintain_impact shape), cached under
  <tables.STATE_ROOT>/segbench/s{S} with a _BUILD_OK marker;
- measure warm block-max BM25 serving (min_docs=0 forces the pruned
  path; median of 3 runs) and the kept/candidate prune geometry
  (blockmax_prune_plan's blocks frame — candidate blocks, kept
  blocks, posting rows surviving);
- for the largest fan-out, compact_segments and re-measure: the
  global re-block must restore the one-shot (S=1-equivalent)
  geometry and serving cost.

Prints RESULT lines per configuration and one SUMMARY json for
SCALE.md §segment fan-out. TIMED — run exclusively (no concurrent
Spark work), in tmux.

Usage: python tools/bench_segments.py [--build-only|--bench-only]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from batch_processing_etl_orchestration_spark.tables import STATE_ROOT  # noqa: E402

SF10 = os.path.join(STATE_ROOT, "sf10")
ROOT = os.path.join(STATE_ROOT, "segbench")
FANOUTS = [1, 4, 16, 64]
TERMS = ["join", "hash", "scan"]
REPS = 3


def build_variant(spark, s: int) -> str:
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
    )
    from batch_processing_etl_orchestration_spark.tables import load_table

    path = os.path.join(ROOT, f"s{s}")
    marker = os.path.join(path, "_BUILD_OK")
    if os.path.isfile(marker):
        print(f"s{s}: already built")
        return path
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, SF10, "documents").select("doc_id", "text")
    t0 = time.perf_counter()
    PostingsIndex.build(
        spark,
        spark.createDataFrame([], "doc_id BIGINT, text STRING"),
        path,
        impact_ordered=True,
    )
    idx = PostingsIndex(spark, path)
    for b in range(s):
        idx.add_segment(
            docs.where(F.pmod(F.col("doc_id"), F.lit(s)) == b),
            f"batch-{b}",
        )
    dt = time.perf_counter() - t0
    open(marker, "w").close()
    print(f"s{s}: built in {dt:.0f}s ({s} segments)", flush=True)
    return path


def measure(spark, path: str, label: str) -> dict:
    from batch_processing_etl_orchestration_spark.operators.retrieval import (
        PostingsIndex,
        blockmax_prune_plan,
        bm25_topk_blockmax,
    )

    idx = PostingsIndex(spark, path)
    plan = blockmax_prune_plan(idx, TERMS, k=15)
    geo: dict = {"plan": "unavailable"}
    if plan is not None:
        blocks = plan["_blocks_df"]
        tot = blocks.agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("nrows"), F.lit(0)).alias("nr"),
        ).first()
        if plan["theta_scaled"] is None:
            kb, kr = int(tot["nb"]), int(tot["nr"])
        else:
            k = blocks.where(
                F.col("ub6")
                >= F.lit(int(plan["theta_scaled"]) - int(plan["margin"]))
            ).agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(F.sum("nrows"), F.lit(0)).alias("nr"),
            ).first()
            kb, kr = int(k["nb"]), int(k["nr"])
        geo = {
            "n_blocks": int(tot["nb"]),
            "n_blocks_kept": kb,
            "n_postings": int(tot["nr"]),
            "n_postings_kept": kr,
            "theta": plan["theta_scaled"],
        }
    # one unmeasured warm-up, then REPS timed serving runs
    bm25_topk_blockmax(idx, TERMS, k=15, min_docs=0).collect()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        bm25_topk_blockmax(idx, TERMS, k=15, min_docs=0).collect()
        times.append(time.perf_counter() - t0)
    row = {
        "segments": len(idx._segment_dirs()),
        "serve_med": round(statistics.median(times), 3),
        "serve_all": [round(t, 3) for t in times],
        **geo,
    }
    print(f"RESULT {label} {json.dumps(row)}", flush=True)
    return row


def main() -> None:
    from batch_processing_etl_orchestration_spark.session import get_spark

    spark = get_spark(
        "bench-segments",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={
            "spark.sql.shuffle.partitions": "64",
            "spark.driver.memory": "64g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    if "--bench-only" not in sys.argv:
        for s in FANOUTS:
            build_variant(spark, s)
    if "--build-only" not in sys.argv:
        for s in FANOUTS:
            results[f"s{s}"] = measure(
                spark, os.path.join(ROOT, f"s{s}"), f"s{s}"
            )
        # compaction restores the one-shot geometry at the largest
        # fan-out — measured, not assumed
        from batch_processing_etl_orchestration_spark.operators.retrieval import (
            PostingsIndex,
        )

        big = os.path.join(ROOT, f"s{FANOUTS[-1]}")
        idx = PostingsIndex(spark, big)
        if idx._segment_dirs():
            t0 = time.perf_counter()
            folded = idx.compact_segments()
            dt = time.perf_counter() - t0
            print(
                f"RESULT compact {json.dumps({'folded': folded, 'sec': round(dt, 1)})}",
                flush=True,
            )
            results["s64_compacted"] = measure(
                spark, big, "s64_compacted"
            )
        print("SUMMARY " + json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
